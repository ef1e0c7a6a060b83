package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{functions => sf}
import graft.{functions => gf}
import graft.functions.dec

/** Corpus-level statistics for training-data curation: heavy-hitter
  * n-grams (boilerplate detection), unigram-LM document scoring
  * (CCNet-style quality), and per-source distribution divergence
  * (mixture monitoring).
  */
object CorpusStats {

  /** Mergeable Misra–Gries frequency summary over a token stream.
    *
    * The buffer holds at most `capacity` (term, count) entries; when a
    * new term arrives at a full buffer every count is decremented and
    * zeros are dropped (amortized O(1) per token: each decrement sweep
    * retires `capacity` count-units and at most n units ever enter).
    * `merge` sums two summaries and, if over capacity, subtracts the
    * (capacity+1)-th largest count from every entry — the Agarwal et
    * al. mergeable-summaries rule, which keeps the total undercount
    * bounded by n/(capacity+1) across any merge tree, so partial
    * aggregation (map-side combine) is safe.
    *
    * Guarantee used by [[heavyHitterTerms]]: any term with true count
    * > n/(capacity+1) survives in the summary. The sketch only
    * nominates CANDIDATES — counts are re-derived exactly in a second
    * pass, so sketch error can never reach the output.
    */
  class MisraGriesAgg(capacity: Int)
      extends Aggregator[String, Map[String, Long], Seq[String]] {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    def zero: Map[String, Long] = Map.empty
    def reduce(m: Map[String, Long], term: String): Map[String, Long] =
      m.get(term) match {
        case Some(c) => m.updated(term, c + 1L)
        case None if m.size < capacity => m.updated(term, 1L)
        case None =>
          // decrement-all: the incoming token's single unit is consumed
          // by the sweep, so it does not enter the summary
          m.iterator.collect { case (k, v) if v > 1L => (k, v - 1L) }.toMap
      }
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (acc, (k, v)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + v)
      }
      if (sum.size <= capacity) sum
      else {
        // subtract the (capacity+1)-th largest count from every entry;
        // at most `capacity` survive and the undercount bounds add
        val cut = sum.valuesIterator.toArray.sorted(Ordering[Long].reverse)
          .apply(capacity)
        sum.iterator.collect { case (k, v) if v > cut => (k, v - cut) }.toMap
      }
    }
    def finish(m: Map[String, Long]): Seq[String] = m.keys.toSeq.sorted
    def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: Encoder[Seq[String]] =
      ExpressionEncoder[Seq[String]]()
  }

  /** Exact corpus heavy-hitter terms above frequency `phi` via the
    * standard two-pass sketch-then-recount plan:
    *
    * pass 1 — Misra–Gries at capacity ceil(2/phi) nominates candidates
    * (undercount ≤ n·phi/2 < ceil(n·phi), so every true heavy hitter
    * is nominated; the summary is ≤ 2/phi entries regardless of corpus
    * size, and partial aggregation keeps the shuffle at one summary
    * per map task);
    * pass 2 — a broadcast left-semi join on the ≤ 2/phi candidate terms
    * recounts them exactly (map-side combinable groupBy), and the final
    * filter applies the exact threshold ceil(phi·n).
    *
    * Output is therefore EXACT — identical to a full groupBy-count with
    * HAVING — but the shuffle never carries the long tail: at 100 TB a
    * naive groupBy(term) shuffles billions of distinct singleton terms;
    * this shuffles ≤ 2/phi rows per map task in each pass.
    */
  def heavyHitterTerms(docs: DataFrame, textCol: String,
                       phi: Double = 0.001): DataFrame = {
    require(phi > 0 && phi <= 1, s"phi must be in (0, 1], got $phi")
    val spark = docs.sparkSession
    import spark.implicits._
    val capacity = math.ceil(2.0 / phi).toInt
    val toks = Par.spread(docs.select(sf.col(textCol).as("__t")))
      .select(sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("term"))
    val candidates = toks.as[String]
      .select(new MisraGriesAgg(capacity).toColumn)
      .toDF("cands")
      .select(sf.explode(sf.col("cands")).as("term"))
    val total = toks.agg(sf.count(sf.lit(1)).as("n_total"))
    toks.join(sf.broadcast(candidates), Seq("term"), "left_semi")
      .groupBy("term")
      .agg(sf.count(sf.lit(1)).as("cnt"))
      .crossJoin(sf.broadcast(total))
      .filter(sf.col("cnt") >= sf.ceil(sf.lit(phi) * sf.col("n_total")))
      .select(sf.col("term"), sf.col("cnt"), sf.col("n_total"))
      .orderBy(sf.col("cnt").desc, sf.col("term"))
  }

  /** [[MisraGriesAgg]] lifted to (group, term) pairs so it can run
    * under `groupByKey(group)` — same summary, same bounds, input
    * projected to the term. */
  class MisraGriesPairAgg(capacity: Int)
      extends Aggregator[(String, String), Map[String, Long], Seq[String]] {
    private val inner = new MisraGriesAgg(capacity)
    def zero: Map[String, Long] = inner.zero
    def reduce(m: Map[String, Long], p: (String, String)): Map[String, Long] =
      inner.reduce(m, p._2)
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      inner.merge(a, b)
    def finish(m: Map[String, Long]): Seq[String] = inner.finish(m)
    def bufferEncoder: Encoder[Map[String, Long]] = inner.bufferEncoder
    def outputEncoder: Encoder[Seq[String]] = inner.outputEncoder
  }

  /** EXACT heavy-hitter terms per group (above within-group frequency
    * `phi`) — the per-source specialization of [[heavyHitterTerms]]'s
    * two-pass sketch-then-recount plan: a per-group Misra–Gries
    * summary nominates ≤ 2/phi candidates per group (undercount
    * ≤ n_g·phi/2, so no true heavy hitter is missed), then a
    * candidate-keyed semi join recounts them exactly and the exact
    * per-group threshold ceil(phi·n_g) filters. The per-source
    * boilerplate/templating fingerprint: which terms dominate THIS
    * source, regardless of corpus-wide frequency.
    *
    * Scale shape: pass 1 shuffles one ≤ 2/phi summary per (map task,
    * group); pass 2 is a (group, term) semi join against the
    * groups×capacity candidate table and a map-side-combined recount.
    * Both group-domain joins are AQE-decided (a high-cardinality
    * group domain must never be a forced broadcast). */
  def heavyHittersPerGroup(docs: DataFrame, groupCol: String,
                           textCol: String, phi: Double = 0.01): DataFrame = {
    require(phi > 0 && phi <= 1, s"phi must be in (0, 1], got $phi")
    val spark = docs.sparkSession
    import spark.implicits._
    val capacity = math.ceil(2.0 / phi).toInt
    val toks = Par.spread(docs.select(sf.col(groupCol).as("__g"), sf.col(textCol).as("__t")))
      .filter(sf.col("__g").isNotNull)
      .select(sf.col("__g").as("grp"),
        sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("term"))
    val cands = toks.as[(String, String)].groupByKey(_._1)
      .agg(new MisraGriesPairAgg(capacity).toColumn.name("cands"))
      .toDF("grp", "cands")
      .select(sf.col("grp"), sf.explode(sf.col("cands")).as("term"))
    val totals = toks.groupBy("grp").agg(sf.count(sf.lit(1)).as("n_grp"))
    toks.join(cands, Seq("grp", "term"), "left_semi")
      .groupBy("grp", "term").agg(sf.count(sf.lit(1)).as("cnt"))
      .join(totals, "grp")
      .filter(sf.col("cnt") >= sf.ceil(sf.lit(phi) * sf.col("n_grp")))
      .select(sf.col("grp").as(groupCol), sf.col("term"),
        sf.col("cnt"), sf.col("n_grp"))
      .orderBy(sf.col(groupCol), sf.col("cnt").desc, sf.col("term"))
  }

  /** Per-document unigram language-model score (CCNet-style quality
    * signal): mean negative log-likelihood of the document's tokens
    * under the corpus's own add-one-smoothed unigram LM,
    * p(w) = (c(w)+1)/(N+V). Low = stereotypical corpus prose; high =
    * rare-token soup (mojibake, keyboard mash, exotic boilerplate).
    *
    * Scale shape: one explode → groupBy(doc, term) with map-side
    * combine (repeats collapse before the shuffle) → groupBy(term) over
    * the already-collapsed table for corpus counts → join back on term
    * (left to AQE: broadcast for small vocabularies, shuffle otherwise)
    * → combinable per-doc weighted sum. (N, V) ride as a broadcast
    * 1-row cross join — no driver action. Nothing holds a vocabulary
    * or a document in memory whole.
    */
  def unigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Par.spread(docs.select(sf.col(idCol), sf.col(textCol)))
      .select(sf.col(idCol).cast("long").as("doc_id"),
        sf.explode(gf.wsTokens(sf.lower(sf.col(textCol)))).as("term"))
    val docTerm = toks.groupBy("doc_id", "term")
      .agg(sf.count(sf.lit(1)).as("c_dt"))
    val corpus = docTerm.groupBy("term").agg(sf.sum("c_dt").as("c_t"))
    val totals = corpus.agg(sf.sum("c_t").as("n_total"),
      sf.count(sf.lit(1)).as("vocab"))
    val logP = sf.log((sf.col("c_t") + 1.0) /
      (sf.col("n_total") + sf.col("vocab")).cast("double"))
    docTerm.join(corpus, "term")
      .crossJoin(sf.broadcast(totals))
      .groupBy("doc_id")
      .agg(
        gf.roundAt(-sf.sum(sf.col("c_dt") * logP) / sf.sum("c_dt"), 4).as("lm_nll"),
        sf.sum("c_dt").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Per-source KL divergence of the source's unigram distribution from
    * the whole-corpus distribution — the mixture-monitoring signal: a
    * source whose KL drifts up is diverging from the corpus it is
    * supposed to blend into (or was contaminated). q is add-one
    * smoothed so terms unique to a source stay finite.
    *
    * KL(p_s ‖ q) = Σ_w p_s(w) · ln(p_s(w) / q(w)),
    * p_s(w) = c_s(w)/N_s (unsmoothed: only w with c_s(w) > 0
    * contribute), q(w) = (c(w)+1)/(N+V).
    *
    * Scale shape: one explode → groupBy(source, term) map-side combined
    * → term-level corpus counts from the collapsed table → joins on
    * term/source (AQE-planned) → one combinable groupBy(source). Output
    * is one row per source.
    */
  def sourceKlDivergence(docs: DataFrame, sourceCol: String,
                         textCol: String): DataFrame = {
    val toks = Par.spread(docs.select(sf.col(sourceCol), sf.col(textCol)))
      .select(sf.col(sourceCol).as("source"),
        sf.explode(gf.wsTokens(sf.lower(sf.col(textCol)))).as("term"))
    val st = toks.groupBy("source", "term")
      .agg(sf.count(sf.lit(1)).as("c_st"))
    val corpus = st.groupBy("term").agg(sf.sum("c_st").as("c_t"))
    val srcTotals = st.groupBy("source").agg(sf.sum("c_st").as("n_s"))
    val totals = corpus.agg(sf.sum("c_t").as("n_total"),
      sf.count(sf.lit(1)).as("vocab"))
    val p = sf.col("c_st").cast("double") / sf.col("n_s").cast("double")
    val q = (sf.col("c_t") + 1.0) /
      (sf.col("n_total") + sf.col("vocab")).cast("double")
    st.join(corpus, "term")
      .join(sf.broadcast(srcTotals), "source")
      .crossJoin(sf.broadcast(totals))
      .groupBy("source")
      .agg(
        gf.roundAt(sf.sum(p * sf.log(p / q)), 4).as("kl_nats"),
        sf.max("n_s").as("n_tokens"),
        sf.count(sf.lit(1)).as("n_terms"))
      .orderBy("source")
  }

  /** PMI collocations: adjacent token pairs whose co-occurrence beats
    * the independence assumption — pmi = ln(p(w1,w2) / (p(w1)·p(w2))),
    * with p(w1,w2) over the bigram stream and p(w) over the unigram
    * stream. High-PMI pairs are multi-word expressions ("new york",
    * "machine learning"); in curation they expose templated boilerplate
    * the unigram heavy-hitter pass misses. `minCount` floors the bigram
    * support so rare-pair PMI noise (which maxes PMI at count 1) never
    * surfaces.
    *
    * Scale shape: two explodes into map-side-combined counts (bigram
    * and unigram tables — domain-sized, not corpus-sized), the bigram
    * table joined twice against the unigram table on its two term keys
    * (AQE picks broadcast when the vocabulary is small), and the
    * support filter lands BEFORE the joins, so only bigrams that can
    * surface pay the join. One row per surviving bigram. */
  def pmiCollocations(docs: DataFrame, textCol: String,
                      minCount: Long = 5): DataFrame = {
    val toks = Par.spread(docs.select(sf.col(textCol)))
      .select(gf.wsTokens(sf.lower(sf.col(textCol))).as("t"))
    // localCheckpoint the two DOMAIN-sized count tables: the totals
    // aggregates and the two term joins below all read them — without
    // materialization each consumer re-runs its full corpus explode
    val uni = toks.select(sf.explode(sf.col("t")).as("w"))
      .groupBy("w").agg(sf.count(sf.lit(1)).as("c_w"))
      .localCheckpoint(true)
    val bi = toks.filter(sf.size(sf.col("t")) >= 2)
      .select(sf.explode(sf.expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"))
        .as("bg"))
      .select(sf.col("bg.w1").as("w1"), sf.col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(sf.count(sf.lit(1)).as("c_bg"))
      .localCheckpoint(true)
    val nBi = bi.agg(sf.sum("c_bg").as("n_bg"))
    val nUni = uni.agg(sf.sum("c_w").as("n_uni"))
    val supported = bi.filter(sf.col("c_bg") >= minCount)
    val pmi = sf.log(
      (sf.col("c_bg").cast("double") / sf.col("n_bg").cast("double")) /
        ((sf.col("c_w1").cast("double") / sf.col("n_uni").cast("double")) *
          (sf.col("c_w2").cast("double") / sf.col("n_uni").cast("double"))))
    supported
      .join(uni.select(sf.col("w").as("w1"), sf.col("c_w").as("c_w1")), "w1")
      .join(uni.select(sf.col("w").as("w2"), sf.col("c_w").as("c_w2")), "w2")
      .crossJoin(sf.broadcast(nBi))
      .crossJoin(sf.broadcast(nUni))
      .select(sf.col("w1"), sf.col("w2"), sf.col("c_bg"),
        gf.roundAt(pmi, 4).as("pmi"))
      .orderBy(sf.col("pmi").desc, sf.col("w1"), sf.col("w2"))
  }

  /** Dunning log-likelihood-ratio collocations (Dunning 1993, CL
    * 19(1)) — the G² test over adjacent bigrams that REPLACES raw PMI
    * for sparse counts: PMI rewards rarity (a hapax pair maxes it),
    * G² weighs the evidence, so the top of this list is "phrases the
    * corpus actually repeats" (MWE lexicon building, tokenizer-merge
    * candidates, boilerplate phrase discovery). Margins come from the
    * BIGRAM table itself (first-position/second-position counts — the
    * [[windowedPmi]] consistency convention: no separate unigram pass
    * to drift at document edges). For bigram (a, b):
    * k₁ = c_ab, n₁ = c_a•, k₂ = c_•b − c_ab, n₂ = N − n₁,
    * G² = 2[ℓ(k₁,n₁,p₁) + ℓ(k₂,n₂,p₂) − ℓ(k₁,n₁,p) − ℓ(k₂,n₂,p)]
    * with ℓ(k,n,x) = k·ln x + (n−k)·ln(1−x), p = c_•b/N, and each
    * term contributing only when its coefficient is positive and its
    * argument in (0,1) — the standard 0·ln 0 = 0 convention, spelled
    * as identical CASE guards in the oracle.
    *
    * Determinism: all counts exact integers from two map-side
    * combinable aggregations; G² is one pinned 8-term double
    * expression per bigram (fixed in-row evaluation order), rounded
    * 1e-4; the top-k cut orders (g2 desc, w1, w2) — tie-deterministic.
    *
    * Scale shape: one corpus bigram explode (fan-out bounded by doc
    * length) into a domain-sized count table, two margin rollups OF
    * that table, two AQE-decided margin equi joins, broadcast one-row
    * total, TakeOrdered finish. */
  def dunningCollocations(docs: DataFrame, textCol: String,
                          minCount: Long = 5, topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1, "need minCount >= 1 and topK >= 1")
    val toks = Par.spread(docs.select(sf.col(textCol)))
      .select(gf.wsTokens(sf.lower(sf.col(textCol))).as("t"))
    val bi = toks.filter(sf.size(sf.col("t")) >= 2)
      .select(sf.explode(sf.expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"))
        .as("bg"))
      .select(sf.col("bg.w1").as("w1"), sf.col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(sf.count(sf.lit(1)).as("c_bg"))
      .localCheckpoint(true) // margins + total + supported all read it
    val first = bi.groupBy("w1").agg(sf.sum("c_bg").cast("long").as("n1"))
    val second = bi.groupBy("w2").agg(sf.sum("c_bg").cast("long").as("c2"))
    val nT = bi.agg(sf.sum("c_bg").cast("long").as("nn"))
    def ell(k: Column, n: Column, x: Column): Column =
      sf.when(k > 0 && x > 0.0, k.cast("double") * sf.log(x)).otherwise(0.0) +
        sf.when(n - k > 0 && x < 1.0,
          (n - k).cast("double") * sf.log(sf.lit(1.0) - x)).otherwise(0.0)
    val k1 = sf.col("c_bg")
    val n1 = sf.col("n1")
    val k2 = sf.col("c2") - sf.col("c_bg")
    val n2 = sf.col("nn") - sf.col("n1")
    val p = sf.col("c2").cast("double") / sf.col("nn").cast("double")
    val p1 = k1.cast("double") / n1.cast("double")
    val p2 = sf.when(n2 > 0, k2.cast("double") / n2.cast("double")).otherwise(0.0)
    val g2 = sf.lit(2.0) * (ell(k1, n1, p1) + ell(k2, n2, p2) -
      ell(k1, n1, p) - ell(k2, n2, p))
    bi.filter(sf.col("c_bg") >= minCount)
      .join(first, "w1").join(second, "w2")
      .crossJoin(sf.broadcast(nT))
      .select(sf.col("w1"), sf.col("w2"), sf.col("c_bg"),
        gf.roundAt(g2, 4).as("g2"))
      .orderBy(sf.col("g2").desc, sf.col("w1"), sf.col("w2"))
      .limit(topK)
  }

  /** Windowed skip-gram PMI: pointwise mutual information over
    * DIRECTIONAL (left, right) token pairs within a `window`-token
    * span — the word2vec-context generalization of [[pmiCollocations]]
    * (which is this with window = 1). Wider windows surface topical
    * association ("doctor … hospital") where adjacency only finds
    * fixed phrases.
    *
    * PMI = ln( (c_pair/N_pairs) / ((c_out(a)/N_pairs)·(c_in(b)/N_pairs)) )
    * with c_out/c_in the pair-table margins — exact integers from one
    * pair aggregation, so the margins and the total are consistent by
    * construction (no separate unigram pass can drift from the pair
    * universe at document edges).
    *
    * Scale shape: the pair explode fans out `window` rows per token
    * position (map-only, per-row bounded); pairs aggregate map-side;
    * margins reduce the pair DOMAIN, not the corpus; the two margin
    * joins are AQE-decided; the grand total rides a broadcast 1-row
    * cross join. One ln per surviving pair, rounded at 1e-4. */
  def windowedPmi(docs: DataFrame, textCol: String, window: Int = 4,
                  minCount: Long = 5): DataFrame = {
    require(window >= 1 && window <= 16, s"window must be in [1, 16], got $window")
    val toks = Par.spread(docs.select(sf.col(textCol)))
      .select(gf.wsTokens(sf.lower(sf.col(textCol))).as("t"))
    val pairs = toks.filter(sf.size(sf.col("t")) >= 2)
      .select(sf.explode(sf.flatten(sf.expr(
        s"""transform(sequence(0, size(t) - 2),
           |  i -> transform(sequence(i + 1, least(i + $window, size(t) - 1)),
           |    j -> struct(t[i] AS a, t[j] AS b)))""".stripMargin))).as("p"))
      .select(sf.col("p.a").as("a"), sf.col("p.b").as("b"))
      .groupBy("a", "b").agg(sf.count(sf.lit(1)).as("c_ab"))
      .localCheckpoint(true) // margins + total + support all read it
    val outM = pairs.groupBy("a").agg(sf.sum("c_ab").as("c_out"))
    val inM = pairs.groupBy("b").agg(sf.sum("c_ab").as("c_in"))
    val tot = pairs.agg(sf.sum("c_ab").as("n_pairs"))
    val pmi = sf.log(
      sf.col("c_ab").cast("double") * sf.col("n_pairs").cast("double") /
        (sf.col("c_out").cast("double") * sf.col("c_in").cast("double")))
    pairs.filter(sf.col("c_ab") >= minCount)
      .join(outM, "a")
      .join(inM, "b")
      .crossJoin(sf.broadcast(tot))
      .select(sf.col("a"), sf.col("b"), sf.col("c_ab"),
        gf.roundAt(pmi, 4).as("pmi"))
      .orderBy(sf.col("pmi").desc, sf.col("a"), sf.col("b"))
  }

  /** Inter-source n-gram overlap matrix: exact Jaccard between every
    * pair of sources' distinct word-n-gram sets — the redundancy map a
    * mixture designer reads before setting per-source weights (two
    * near-identical crawls should not both get full weight), and the
    * corpus-level companion of the per-document cross-corpus scan.
    *
    * Scale shape: gram TEXT never leaves the document row — the fused
    * [[graft.functions.hashedWsNgrams]] kernel emits each doc's
    * sorted-distinct 64-bit gram hashes in one pass (measured 3x the
    * whole operator's cost when gram strings were materialized and
    * exploded instead). The hash stream collapses to one row per
    * distinct (source, gram-hash) — a combinable codegen distinct on
    * fixed-width keys — and pair counts come from a gram-keyed equi
    * self-join whose fan-out per key is bounded by the number of
    * sources sharing the gram (sources are few; nothing is quadratic
    * in documents or grams). Source sizes are one row per source, so
    * the final assembly is a broadcast cross of two tiny tables —
    * zero-overlap pairs are emitted too (absence of evidence is a
    * result in a redundancy audit). Distinct counts inherit the
    * kernel's 64-bit collision contract (documented there).
    *
    * Output: (source_a, source_b, n_grams_a, n_grams_b, n_common,
    * jaccard), one row per unordered pair, ordered lexicographically.
    */
  /** Inverted index with BOUNDED postings: term -> document frequency +
    * the first `maxPostings` doc ids (ascending), with a truncation
    * flag. `minDf` floors indexable terms; a stop-word's million-doc
    * posting list arrives as maxPostings ids + truncated=1 instead of
    * an OOM. Postings are emitted as a comma-joined string — the
    * portable scalar form for the oracle diff.
    *
    * Scale shape: (doc, term) pairs collapse map-side to distinct, df
    * is a combinable count, and the posting lists reduce through the
    * SAME cap-bounded aggregator as `Sampling.capPerKey` (constant
    * order-key = id-ascending caps): partial buffers never exceed
    * maxPostings entries, so no term — however common — ever
    * materializes its full posting list anywhere. No per-term sort;
    * the window-rank formulation survives only as the oracle twin. */
  def invertedIndex(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
                    idCol: String, textCol: String,
                    minDf: Long = 2, maxPostings: Int = 20): DataFrame = {
    import spark.implicits._
    val pairs = Par.spread(docs.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"),
        sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("term"))
      .distinct()
      .localCheckpoint(true) // read by both the df count and the cap agg
    val dfCounts = pairs.groupBy("term").agg(sf.count(sf.lit(1)).as("df"))
      .filter(sf.col("df") >= minDf)
    val capped = pairs
      .select(sf.col("term").as("key"), sf.col("doc_id").as("id"),
        sf.lit(0L).as("h")) // constant hash => CapAgg orders by id asc
      .as[Sampling.CapRow]
      .groupByKey(_.key)
      .agg(new Sampling.CapAgg(maxPostings).toColumn.name("kept"))
      .toDF("term", "kept")
    dfCounts.join(capped, "term")
      .select(sf.col("term"), sf.col("df"),
        sf.size(sf.col("kept")).cast("long").as("n_kept"),
        sf.array_join(sf.transform(sf.col("kept"), e => e.getField("_2")), ",")
          .as("postings"),
        (sf.col("df") > maxPostings).cast("int").as("truncated"))
      .orderBy("term")
  }

  /** Corpus datacard ("datasheets for datasets"): one tall
    * (metric, value) frame with the numbers every dataset release
    * documents — volume, token/char averages, language and source
    * mixture shares, exact-duplicate rate, empty/short rates. Metric
    * names for the mixture shares come from the data (`lang_share_en`,
    * `source_share_web`, ...) so the card adapts to any corpus; rows
    * sort by metric name, making the output a pure function of the
    * data.
    *
    * Scale shape: one single-row aggregate over the scan (counts,
    * exact decimal sums, distinct-hash count) plus two tiny mixture
    * groupBys — three map-side-combined passes, shuffles carry a
    * handful of rows, nothing collects. */
  def corpusCard(docs: DataFrame, idCol: String, textCol: String,
                 langCol: String, srcCol: String,
                 shortChars: Int = 100): DataFrame = {
    val txt = sf.col(textCol)
    val nChars = sf.length(txt).cast("long")
    val nToks = sf.size(gf.wsTokens(txt)).cast("long")
    val totals = docs.agg(
      sf.count(sf.lit(1)).as("__n"),
      sf.sum(nChars.cast("decimal(38,0)")).as("__chars"),
      sf.sum(nToks.cast("decimal(38,0)")).as("__toks"),
      sf.count_distinct(sf.md5(txt)).as("__distinct"),
      sf.sum((sf.length(sf.trim(txt)) === 0).cast("long")).as("__empty"),
      sf.sum((nChars < shortChars).cast("long")).as("__short"))
    val n = sf.col("__n").cast("double")
    def share(c: Column) = gf.roundAt(c.cast("double") / n, 4)
    val scalarRows = totals.select(sf.explode(sf.array(
      sf.struct(sf.lit("n_docs").as("metric"), n.as("value")),
      sf.struct(sf.lit("chars_per_doc").as("metric"),
        gf.roundAt(sf.col("__chars").cast("double") / n, 4).as("value")),
      sf.struct(sf.lit("tokens_per_doc").as("metric"),
        gf.roundAt(sf.col("__toks").cast("double") / n, 4).as("value")),
      sf.struct(sf.lit("exact_dup_rate").as("metric"),
        gf.roundAt((n - sf.col("__distinct").cast("double")) / n, 4).as("value")),
      sf.struct(sf.lit("empty_rate").as("metric"), share(sf.col("__empty")).as("value")),
      sf.struct(sf.lit("short_rate").as("metric"), share(sf.col("__short")).as("value"))
    )).as("e")).select("e.metric", "e.value")
    val total = totals.select(sf.col("__n"))
    def mix(col: String, prefix: String) = docs
      .groupBy(sf.col(col).as("__k"))
      .agg(sf.count(sf.lit(1)).as("__c"))
      .crossJoin(sf.broadcast(total))
      .select(
        sf.concat(sf.lit(prefix), sf.coalesce(sf.col("__k"), sf.lit("null")))
          .as("metric"),
        gf.roundAt(sf.col("__c").cast("double") / sf.col("__n").cast("double"), 4)
          .as("value"))
    scalarRows
      .union(mix(langCol, "lang_share_"))
      .union(mix(srcCol, "source_share_"))
      .orderBy("metric")
  }

  def sourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    // Materialized once: the distinct table feeds three plan arms
    // (sizes + both self-join sides); without a checkpoint each arm
    // re-runs the corpus scan.
    val grams = docs
      .select(sf.col(srcCol).as("source"),
        sf.explode(gf.hashedWsNgrams(sf.col(textCol), n)).as("gh"))
      .distinct()
      .localCheckpoint(true)
    val sizes = grams.groupBy("source")
      .agg(sf.count(sf.lit(1)).as("n_grams"))
    val inter = grams.as("a")
      .join(grams.as("b"), sf.col("a.gh") === sf.col("b.gh") &&
        sf.col("a.source") < sf.col("b.source"))
      .groupBy(sf.col("a.source").as("source_a"),
        sf.col("b.source").as("source_b"))
      .agg(sf.count(sf.lit(1)).as("n_common"))
    val pairs = sizes
      .select(sf.col("source").as("source_a"), sf.col("n_grams").as("n_grams_a"))
      .crossJoin(sf.broadcast(sizes
        .select(sf.col("source").as("source_b"), sf.col("n_grams").as("n_grams_b"))))
      .filter(sf.col("source_a") < sf.col("source_b"))
    pairs.join(inter, Seq("source_a", "source_b"), "left")
      .select(sf.col("source_a"), sf.col("source_b"),
        sf.col("n_grams_a"), sf.col("n_grams_b"),
        sf.coalesce(sf.col("n_common"), sf.lit(0L)).as("n_common"))
      .withColumn("jaccard", gf.roundAt(
        sf.col("n_common").cast("double") /
          (sf.col("n_grams_a") + sf.col("n_grams_b") - sf.col("n_common"))
            .cast("double"), 4))
      .orderBy("source_a", "source_b")
  }

  /** Deterministic (a_i, b_i) coefficient pairs for the portable
    * minhash permutation family h_i(x) = (a_i·x + b_i) mod p, p the
    * largest prime below 2^31 that the repo's portable-hash kernels
    * share. Generated by a fixed-seed 64-bit LCG so the SAME literals
    * can be inlined into oracle SQL — everything about the signature
    * is then replayable in any engine with md5() and 64-bit integers
    * (a < 2^31 and x < 2^31, so a·x + b never overflows a BIGINT). */
  def minhashCoefs(k: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    require(k >= 1 && k <= 1024, s"k must be in [1, 1024], got $k")
    val P = 2147483629L
    var s = seed
    def next(): Long = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) % (P - 1)) + 1
    }
    Seq.fill(k)((next(), next()))
  }

  /** Per-source MERGEABLE minhash signatures: for each of k fixed
    * permutations, the minimum permuted md5-token-hash over the
    * source's distinct vocabulary. The signature of a UNION of
    * corpora is the elementwise min of their signatures — so shards,
    * daily increments, or whole sources re-aggregate without ever
    * rescanning text (the sketch counterpart of [[sourceOverlap]]'s
    * exact intersection). One row per (source, permutation slot).
    *
    * Scale shape: distinct (source, token) collapses the corpus to
    * its vocabulary with map-side combine; the k-way expansion
    * multiplies only the VOCABULARY (never raw text), and the
    * per-(source, slot) min is a combinable aggregate whose shuffle
    * is ≤ tasks·sources·k rows. Output is sources×k rows — broadcast
    * scale for any downstream join. */
  def minhashSourceSignatures(docs: DataFrame, srcCol: String,
                              textCol: String, k: Int = 16): DataFrame = {
    val P = 2147483629L
    val base = sf.conv(sf.substring(sf.md5(sf.col("tok")), 1, 15), 16, 10)
      .cast("long") % P
    val slots = sf.array(minhashCoefs(k).zipWithIndex.map {
      case ((a, b), i) =>
        sf.struct(sf.lit(i).as("seed"),
          ((sf.lit(a) * base + sf.lit(b)) % P).as("h"))
    }: _*)
    Par.spread(docs.select(sf.col(srcCol).as("source"), sf.col(textCol).as("__t")))
      .select(sf.col("source"),
        sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("tok"))
      .distinct()
      .select(sf.col("source"), sf.explode(slots).as("sh"))
      .groupBy(sf.col("source"), sf.col("sh.seed").as("seed"))
      .agg(sf.min(sf.col("sh.h")).as("minh"))
  }

  /** Pairwise source Jaccard ESTIMATES from the minhash signatures:
    * the fraction of the k permutation slots on which two sources
    * agree is an unbiased estimate of |A∩B| / |A∪B| (±1/√k std err).
    * This is the 100 TB-shape answer to "how much do my sources
    * overlap": [[sourceOverlap]] intersects vocabularies exactly
    * (a gram-keyed self-join over the full vocabulary), while this
    * compares sources×k fixed-size sketches — constant work per pair
    * regardless of corpus size, and the signatures re-aggregate
    * across shards by elementwise min. All source pairs appear,
    * including zero-overlap ones. */
  def minhashSourceSimilarity(docs: DataFrame, srcCol: String,
                              textCol: String, k: Int = 16): DataFrame = {
    val sig = minhashSourceSignatures(docs, srcCol, textCol, k)
      .localCheckpoint(true)
    val a = sig.select(sf.col("source").as("src_a"), sf.col("seed"),
      sf.col("minh").as("__ha"))
    val b = sig.select(sf.col("source").as("src_b"), sf.col("seed"),
      sf.col("minh").as("__hb"))
    a.join(b, "seed").filter(sf.col("src_a") < sf.col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sf.sum(sf.when(sf.col("__ha") === sf.col("__hb"), 1L)
        .otherwise(0L)).as("n_match"))
      .select(sf.col("src_a"), sf.col("src_b"), sf.col("n_match"),
        sf.lit(k).as("k"),
        gf.roundAt(sf.col("n_match").cast("double") / k, 4).as("est_jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Okapi BM25 relevance of every document for a fixed query term
    * set (Robertson & Walker SIGIR'94; the Lucene `+1`-inside-the-log
    * idf variant, which is non-negative even for df > N/2):
    *
    *   idf(t)   = ln(1 + (N - df + 0.5)/(df + 0.5))
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * The batch-scoring side of retrieval — rank a corpus against a
    * query (mining near-query training data, building weak labels for
    * a reranker) — next to q93's index-construction side.
    *
    * Scale shape: the token stream filters to the literal query-term
    * set BEFORE any shuffle, so only matching occurrences (≪ corpus)
    * reach the combinable (doc, term) count; df and avgdl/N are
    * domain- and single-row aggregates riding as broadcasts; docs with
    * no match never surface. Doubles are assembled in one pinned
    * expression per (doc, term) and summed per doc (≤ |query| terms),
    * so fp order is fixed; the oracle replays it exactly at 4 dp. */
  def bm25Score(docs0: DataFrame, idCol: String, textCol: String,
                queryTerms: Seq[String], k1: Double = 1.2,
                b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val base = Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"), gf.wsTokens(sf.lower(sf.col("__t"))).as("toks"))
      .filter(sf.size(sf.col("toks")) > 0)
      .localCheckpoint(true) // read by stats, tf, and the dl join
    val stats = base.agg(sf.count(sf.lit(1)).as("n_docs"),
      (sf.sum(sf.size(sf.col("toks")).cast("long")).cast("double") /
        sf.count(sf.lit(1))).as("avgdl"))
    val tf = base
      .select(sf.col("doc_id"), sf.explode(sf.col("toks")).as("term"))
      .filter(sf.col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(sf.count(sf.lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(sf.count(sf.lit(1)).as("df"))
    val dl = base.select(sf.col("doc_id"),
      sf.size(sf.col("toks")).cast("long").as("dl"))
    val idf = sf.log(sf.lit(1.0) +
      (sf.col("n_docs") - sf.col("df") + 0.5) / (sf.col("df") + 0.5))
    val perTerm = idf * (sf.col("tf") * sf.lit(k1 + 1.0)) /
      (sf.col("tf") + sf.lit(k1) * (sf.lit(1.0 - b) +
        sf.lit(b) * sf.col("dl") / sf.col("avgdl")))
    tf.join(sf.broadcast(dfT), "term")
      .join(dl, "doc_id")
      .crossJoin(sf.broadcast(stats))
      .groupBy("doc_id")
      .agg(sf.count(sf.lit(1)).cast("long").as("n_matched"),
        gf.roundAt(sf.sum(perTerm), 4).as("bm25"))
      .orderBy("doc_id")
  }

  /** N-gram coverage curve: for each gram width n = 1..maxN, the
    * fraction of the EVAL set's distinct word n-grams that occur
    * anywhere in the corpus — the memorization/novelty axis of a
    * train-vs-eval audit (decontaminate flags the contaminated docs;
    * this measures how much of the eval surface the corpus covers at
    * all, the number that says whether an eval is even out-of-
    * distribution). Coverage falling off with n is healthy; flat-high
    * curves mean the eval is effectively memorized.
    *
    * Gram identity is the fused hash kernel (never gram strings, the
    * decontaminate design); short docs contribute their whole token
    * sequence as one gram, empty docs nothing. Both sides collapse to
    * DISTINCT gram tables before the probe, so the semi join is
    * distinct-gram-sized and keyed; counts are exact.
    *
    * Scale shape: per n, two map-side-combinable distinct aggregations
    * and one hash-keyed semi join; the output is maxN rows. */
  def ngramCoverage(corpus: DataFrame, evalSet: DataFrame, textCol: String,
                    maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1, 8], got $maxN")
    // ONE text pass per side for ALL widths (the ladder kernel
    // tokenizes once and emits every n's distinct gram hashes), one
    // (n, gh)-keyed distinct per side and one semi join — the r14
    // shape re-scanned and re-tokenized both sides maxN times and ran
    // maxN distinct+join rounds (guide §2.3/§6: fewer full passes).
    def grams(df: DataFrame) =
      Par.spread(df.select(sf.col(textCol).as("__t")))
        .filter(sf.length(sf.trim(sf.col("__t"))) > 0)
        .select(sf.posexplode(gf.hashedWsNgramsLadder(sf.col("__t"), maxN))
          .as(Seq("__i", "__g")))
        .select((sf.col("__i") + 1).as("n"), sf.explode(sf.col("__g")).as("gh"))
        .distinct()
    // the eval gram table feeds two consumers (total + covered counts)
    val e = grams(evalSet).localCheckpoint(true)
    val totals = e.groupBy("n").agg(sf.count(sf.lit(1)).as("eval_grams"))
    val covered = e.join(grams(corpus), Seq("n", "gh"), "left_semi")
      .groupBy("n").agg(sf.count(sf.lit(1)).as("covered"))
    // literal n domain: an n with zero eval grams still emits its row
    // (count-0, NaN coverage), exactly as the per-n aggregates did
    val ns = corpus.sparkSession.range(1, maxN + 1)
      .select(sf.col("id").cast("int").as("n"))
    ns.join(totals, Seq("n"), "left").join(covered, Seq("n"), "left")
      .select(sf.col("n"),
        sf.coalesce(sf.col("eval_grams"), sf.lit(0L)).as("eval_grams"),
        sf.coalesce(sf.col("covered"), sf.lit(0L)).as("covered"),
        gf.roundAt(sf.coalesce(sf.col("covered"), sf.lit(0L)).cast("double") /
          sf.coalesce(sf.col("eval_grams"), sf.lit(0L)).cast("double"), 4)
          .as("coverage"))
      .orderBy("n")
  }

  /** Source-concentration metrics over token mass: Gini coefficient,
    * Herfindahl–Hirschman index, and the largest source's share — the
    * "is this mixture actually diverse" datasheet numbers (a corpus
    * that is 90% one crawl behaves like that crawl no matter how many
    * source labels it carries).
    *
    * Determinism: per-source token masses are exact integer counts;
    * Gini's rank-weighted sum Σ i·m_(i) is exact integer arithmetic
    * over the (m asc, source) total order (ties commute), HHI's
    * per-source share-squared terms snap to 1e-9 before the unordered
    * cross-source sum, and each metric is one pinned double assembly.
    *
    * Scale shape: one corpus token aggregation (map-side combinable,
    * |sources| rows out), then bounded-domain work: the rank window
    * runs over the source table, not the corpus. */
  def sourceConcentration(docs: DataFrame, sourceCol: String,
                          textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mass = Par.spread(docs.select(sf.col(sourceCol).as("source"), sf.col(textCol)))
      .select(sf.col("source"), gf.tokenCount(sf.col(textCol)).cast("long").as("__t"))
      .groupBy("source").agg(sf.sum("__t").as("__m"))
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("source")), sf.lit(1)))
      .orderBy("__m", "source")
    val ranked = mass.withColumn("__i", sf.row_number().over(w))
    val total = ranked.agg(sf.sum("__m").as("__mt")).select(sf.col("__mt"))
    val hhiTerm = sf.floor(
      (sf.col("__m").cast("double") / sf.col("__mt").cast("double")) *
        (sf.col("__m").cast("double") / sf.col("__mt").cast("double")) * 1e9 + 0.5)
      .cast("long")
    ranked.crossJoin(sf.broadcast(total))
      .select(sf.col("__m"), sf.col("__i"), sf.col("__mt"),
        hhiTerm.as("__h"), (dec(sf.col("__i")) * dec(sf.col("__m"))).as("__im"))
      .agg(sf.count(sf.lit(1)).as("n_sources"),
        sf.max("__m").as("__mx"), sf.first("__mt").as("__mtf"),
        sf.sum("__im").as("__ims"), sf.sum(dec(sf.col("__h"))).as("__hs"))
      .select({
        val k = sf.col("n_sources").cast("double")
        val mt = sf.col("__mtf").cast("double")
        val gini = sf.lit(2.0) * sf.col("__ims").cast("double") / (k * mt) -
          (k + 1.0) / k
        Seq(sf.col("n_sources"),
          sf.when(sf.col("n_sources") > 1 && mt > 0, gf.roundAt(gini, 4)).as("gini"),
          sf.when(mt > 0, gf.roundAt(sf.col("__hs").cast("double") / 1e9, 4)).as("hhi"),
          sf.when(mt > 0, gf.roundAt(sf.col("__mx").cast("double") / mt, 4)).as("top_share"))
      }: _*)
  }

  /** Reciprocal-rank fusion (RRF, Cormack et al. 2009) of retriever
    * candidate lists — the standard score-free hybrid-search combiner
    * (BM25 + dense cosine, or any mix): each list contributes
    * 1/(k + rank) per item, summed across lists. Rank-based fusion
    * needs no score calibration between retrievers, which is why it
    * beats weighted-score averaging in practice.
    *
    * Inputs are (`idCol`, `scoreCol`) frames — candidate lists, by
    * contract bounded (each retriever's top-N), which is what makes
    * global ranking cheap at any corpus size. Ranks are dense global
    * positions by (score desc, id) via the range-partitioned parallel
    * numbering of `StarSchema.globalDenseIds` — never a one-task
    * window even when a caller feeds an unbounded list. Callers should
    * pass scores ALREADY snapped to a grid (the house 1e-4 round):
    * ranking raw doubles would let one-ulp engine disagreements flip
    * adjacent ranks.
    *
    * Determinism: each contribution 1/(k + rank) snaps to a 1e-9 grid
    * and the per-item fusion is an exact integer sum — independent of
    * list order, merge order, and partitioning — with one final
    * division, rounded at 1e-6. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String,
              k: Int = 60, scoreCol: String = "score"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1, s"k must be >= 1, got $k")
    val contribs = rankings.map { r =>
      StarSchema.globalDenseIds(
        r.select(sf.col(idCol).as("id"), sf.negate(sf.col(scoreCol)).as("__neg")),
        Seq("__neg", "id"), keyName = "__rank")
        .select(sf.col("id"),
          sf.floor(sf.lit(1e9) / (sf.lit(k.toDouble) + sf.col("__rank").cast("double"))
            + 0.5).cast("long").as("__c"))
    }
    contribs.reduce(_.union(_))
      .groupBy("id")
      .agg(sf.count(sf.lit(1)).as("n_lists"),
        sf.sum(sf.col("__c")).as("__s"))
      .select(sf.col("id").as(idCol), sf.col("n_lists"),
        gf.roundAt(sf.col("__s").cast("double") / 1e9, 6).as("rrf"))
      .orderBy(sf.col("rrf").desc, sf.col(idCol))
  }

  /** Distinctive terms per source: the weighted log-odds ratio with an
    * informative Dirichlet prior (Monroe, Colaresi & Quinn 2008 —
    * "Fightin' Words"), the statistically honest version of "what
    * words characterize source s". Raw frequency ratios explode on
    * rare words; the corpus-frequency prior a_w = a0·y_w/N shrinks
    * exactly the terms with too little evidence, and the z-score
    * (delta / sqrt(1/(y_sw+a_w) + 1/(y_rest,w+a_w))) ranks by
    * confidence, not just effect size.
    *
    * delta_sw = ln((y_sw + a_w) / (n_s + a0 − y_sw − a_w))
    *          − ln((y_rest,w + a_w) / (N − n_s + a0 − y_rest,w − a_w))
    *
    * Determinism: all counts are exact integers from two keyed
    * aggregations; the double assembly (two ln's, one sqrt) is the
    * identical expression in both engines, rounded once at 1e-4 (the
    * q74 PMI convention).
    *
    * Scale shape: one (source, term) aggregation + one term
    * aggregation, both map-side combinable. The per-term corpus table
    * is vocabulary-sized — 10^8-10^9 distinct tokens on a web-scale
    * corpus — so its join is left to AQE (shuffle join at scale,
    * auto-broadcast when it measures small), never a forced broadcast
    * that would OOM the driver; per-source totals and the grand total
    * are bounded (|sources| rows / one row) and do broadcast. */
  def distinctiveTerms(docs: DataFrame, sourceCol: String, textCol: String,
                       a0: Double = 100.0, minCount: Long = 5): DataFrame = {
    require(a0 > 0, s"a0 must be > 0, got $a0")
    val toks = Par.spread(docs.select(sf.col(sourceCol).as("source"), sf.col(textCol)))
      .select(sf.col("source"), sf.explode(gf.wsTokens(sf.lower(sf.col(textCol)))).as("w"))
    val ysw = toks.groupBy("source", "w").agg(sf.count(sf.lit(1)).as("y_sw"))
      .localCheckpoint(true)
    val yw = ysw.groupBy("w").agg(sf.sum("y_sw").as("y_w"))
    val ns = ysw.groupBy("source").agg(sf.sum("y_sw").as("n_s"))
    val tot = yw.agg(sf.sum("y_w").as("n_total"))
    val aw = sf.lit(a0) * sf.col("y_w").cast("double") / sf.col("n_total").cast("double")
    val yRest = sf.col("y_w") - sf.col("y_sw")
    val dIn = sf.log((sf.col("y_sw").cast("double") + aw) /
      (sf.col("n_s").cast("double") + a0 - sf.col("y_sw").cast("double") - aw))
    val dOut = sf.log((yRest.cast("double") + aw) /
      ((sf.col("n_total") - sf.col("n_s")).cast("double") + a0 - yRest.cast("double") - aw))
    val variance = sf.lit(1.0) / (sf.col("y_sw").cast("double") + aw) +
      sf.lit(1.0) / (yRest.cast("double") + aw)
    ysw.filter(sf.col("y_sw") >= minCount)
      .join(yw, "w")
      .join(sf.broadcast(ns), "source")
      .crossJoin(sf.broadcast(tot))
      .select(sf.col("source"), sf.col("w").as("term"),
        sf.col("y_sw").as("n_in"), yRest.as("n_rest"),
        gf.roundAt(dIn - dOut, 4).as("delta"),
        gf.roundAt((dIn - dOut) / sf.sqrt(variance), 4).as("z"))
      .orderBy("source", "term")
  }

  /** Zipf-law fit over the term frequency distribution: OLS slope and
    * intercept of ln(freq) against ln(rank) — the one-number "does
    * this corpus look like natural language" datasheet diagnostic
    * (natural text sits near slope −1; machine-generated or template
    * corpora flatten or step).
    *
    * Determinism: ranks are a total order (count desc, term asc); each
    * ln snaps to a 1e-6 grid immediately, all moment sums are exact
    * DECIMAL(38,0), and the closed-form OLS assembly divides the same
    * exact sums in the same double expression in both engines.
    * A vocabulary of one term has zero x-variance -> NULL slope.
    *
    * Scale shape: the term count table is vocabulary-sized, but a
    * 100 TB web corpus's vocabulary is 10^8-10^9 distinct tokens
    * (typos, URLs, hashes) — far too many for a one-task global
    * window. Ranks therefore ride `StarSchema.globalDenseIds`
    * (range-partitioned parallel numbering, exactly as `rrfFuse`
    * does); the moment reduction is a single-row agg. */
  /** Heaps'-law vocabulary-growth fit: V = k·N^β, estimated as the
    * OLS of ln(V_s) on ln(N_s) across sources (each source one
    * point: token mass N_s, distinct-type count V_s). β ≈ 0.4–0.6
    * for natural text; β near 1 means vocabulary grows linearly with
    * volume (ids/hashes/mojibake — a curation smell), β near 0 means
    * templated/repetitive sources. The growth-side companion of
    * [[zipfSlope]]'s rank-frequency fit.
    *
    * Exactness: the zipfSlope convention — 1e-6-snapped lns, DECIMAL
    * moment sums, pinned closed-form assembly. Scale shape: one
    * (source, term) map-side-combined collapse (the q63 domain
    * table), a source-domain re-aggregation, and a single-row OLS
    * finish; sources with an empty vocabulary drop. */
  def heapsLawFit(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val st = Par.spread(docs.select(sf.col(srcCol).as("__src"), sf.col(textCol).as("__t")))
      .filter(sf.col("__src").isNotNull)
      .select(sf.col("__src"),
        sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("w"))
      .groupBy("__src", "w").agg(sf.count(sf.lit(1)).as("c"))
    val per = st.groupBy("__src")
      .agg(sf.sum("c").as("n_tokens"), sf.count(sf.lit(1)).as("n_types"))
    def lnFx(c: Column) = sf.floor(sf.log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val m = per.select(lnFx(sf.col("n_tokens")).as("lx"), lnFx(sf.col("n_types")).as("ly"))
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("lx"))).as("sx"), sf.sum(dec(sf.col("ly"))).as("sy"),
        sf.sum(dec(sf.col("lx")) * dec(sf.col("lx"))).as("sxx"),
        sf.sum(dec(sf.col("lx")) * dec(sf.col("ly"))).as("sxy"))
    val n = sf.col("n").cast("double")
    val sx = sf.col("sx").cast("double") / 1e6
    val sy = sf.col("sy").cast("double") / 1e6
    val sxx = sf.col("sxx").cast("double") / 1e12
    val sxy = sf.col("sxy").cast("double") / 1e12
    val den = n * sxx - sx * sx
    val slope = (n * sxy - sx * sy) / den
    val ok = (sf.col("n") >= 2) && den > 0.0
    m.select(sf.col("n").as("n_sources"),
      sf.when(ok, gf.roundAt(slope, 4)).as("beta"),
      sf.when(ok, gf.roundAt((sy - slope * sx) / n, 4)).as("ln_k"))
  }

  /** Corpus novelty-saturation curve: order documents into id-range
    * buckets and report, per bucket, how many of its distinct word
    * n-grams had NEVER appeared in an earlier bucket — the "is more
    * of this source still worth ingesting" curve (novelty_rate decays
    * toward 0 as a source exhausts itself; a flat-high curve means
    * the corpus is still growing vocabulary/phrasing; a cliff means
    * boilerplate). The growth-over-position companion of
    * [[heapsLawFit]]'s growth-over-volume fit.
    *
    * Gram identity is the fused 64-bit hash kernel (never gram
    * strings — the q56 decontaminate convention: equality-only use,
    * so the oracle's string grams agree); "occurrence" means one
    * per (doc, distinct gram).
    *
    * Scale shape: one map-only gram pass, a map-side-combined
    * min(bucket) per gram (the only vocabulary-sized shuffle), two
    * bucket-domain aggregations, and a range-partitioned prefix sum
    * for the cumulative curve — never a one-task window. */
  def noveltyCurve(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, bucketSize: Long = 100): DataFrame = {
    require(n >= 1 && n <= 8, s"n must be in [1, 8], got $n")
    require(bucketSize >= 1, s"bucketSize must be >= 1, got $bucketSize")
    val base = Par.spread(docs.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .filter(sf.length(sf.trim(sf.col("__t"))) > 0)
      .withColumn("bucket", (sf.col("doc_id") / bucketSize).cast("long"))
    val g = base.select(sf.col("bucket"),
        sf.explode(gf.hashedWsNgrams(sf.col("__t"), n)).as("gh"))
      .localCheckpoint(true) // first-seen + per-bucket occ both read it
    val firstSeen = g.groupBy("gh").agg(sf.min("bucket").as("fb"))
      .groupBy("fb").agg(sf.count(sf.lit(1)).as("new_grams"))
      .withColumnRenamed("fb", "bucket")
    val occ = g.groupBy("bucket").agg(sf.count(sf.lit(1)).as("n_gram_occ"))
    val nd = base.groupBy("bucket").agg(sf.count(sf.lit(1)).as("n_docs"))
    val joined = nd.join(occ, Seq("bucket"), "left")
      .join(firstSeen, Seq("bucket"), "left")
      .select(sf.col("bucket"), sf.col("n_docs"),
        sf.coalesce(sf.col("n_gram_occ"), sf.lit(0L)).as("n_gram_occ"),
        sf.coalesce(sf.col("new_grams"), sf.lit(0L)).as("new_grams"))
    StarSchema.globalPrefixSums(joined, Seq("bucket"), "new_grams", "cum_new")
      .select(sf.col("bucket"), sf.col("n_docs"), sf.col("n_gram_occ"),
        sf.col("new_grams"), sf.col("cum_new"),
        sf.when(sf.col("n_gram_occ") > 0,
          gf.roundAt(sf.col("new_grams").cast("double") /
            sf.col("n_gram_occ").cast("double"), 4)).as("novelty_rate"))
      .orderBy("bucket")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * log-importance of a hashed-unigram bag-of-words model of the
    * TARGET distribution over the model of the rest of the corpus —
    * the score behind "sample raw web data that looks like my
    * high-quality target set". Documents scoring high under
    * log p_target(x) − log p_source(x) are resampling candidates
    * (feed the weights to `Sampling.weightedTopK` for the exact-k
    * draw).
    *
    * Features are hashed unigrams: bucket(tok) = (md5-60(tok) mod p)
    * mod `nBuckets` — the q73 classifier's portable hashing-trick
    * kernel, so any engine replays bucket assignment exactly. Both
    * bucket distributions are Laplace-smoothed (add `alpha`); the
    * per-bucket log-ratio ln(((cT+α)·(NS+αB)) / ((cS+α)·(NT+αB)))
    * snaps to 1e-6 fixed point once, and each document's weight is
    * the exact integer sum of occurrence-count × snapped-ratio,
    * divided once at the end (1e-4 round).
    *
    * Scale shape: one token-bucket aggregation onto a BOUNDED domain
    * (nBuckets rows — this is the hashing trick's point: vocabulary
    * size never matters), a single-row totals broadcast, and one
    * (doc, bucket) map-side-combined count joined to the broadcast
    * bucket table — the scoring pass is map-only per document. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, nBuckets: Int = 256,
                  alpha: Double = 1.0): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val P = 2147483629L
    val bucket = ((sf.conv(sf.substring(sf.md5(sf.col("tok")), 1, 15), 16, 10)
      .cast("long") % P) % nBuckets).cast("int")
    val toks = Par.spread(docs.select(sf.col(idCol).cast("long").as("doc_id"),
        isTarget.as("is_target"), sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"), sf.col("is_target"),
        sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("tok"))
      .select(sf.col("doc_id"), sf.col("is_target"), bucket.as("__b"))
      .localCheckpoint(true) // bucket model + scoring pass both read it
    val model = toks.groupBy("__b")
      .agg(sf.sum(sf.when(sf.col("is_target"), 1L).otherwise(0L)).as("__ct"),
        sf.sum(sf.when(sf.col("is_target"), 0L).otherwise(1L)).as("__cs"))
    val totals = model.agg(sf.sum("__ct").as("__nt"), sf.sum("__cs").as("__ns"))
    val aB = alpha * nBuckets
    val lnr = sf.floor(sf.log(
      ((sf.col("__ct").cast("double") + alpha) * (sf.col("__ns").cast("double") + aB)) /
        ((sf.col("__cs").cast("double") + alpha) * (sf.col("__nt").cast("double") + aB)))
      * 1e6 + 0.5).cast("long")
    val ratios = model.crossJoin(sf.broadcast(totals))
      .select(sf.col("__b"), lnr.as("__lnr"))
    toks.groupBy("doc_id", "is_target", "__b")
      .agg(sf.count(sf.lit(1)).as("__n"))
      .join(sf.broadcast(ratios), "__b")
      .groupBy("doc_id", "is_target")
      .agg(sf.sum("__n").as("n_tokens"),
        sf.sum(sf.col("__n").cast("decimal(38,0)") *
          sf.col("__lnr").cast("decimal(38,0)")).as("__s"))
      .select(sf.col("doc_id"), sf.col("is_target"), sf.col("n_tokens"),
        gf.roundAt(sf.col("__s").cast("double") / 1e6, 4).as("log_weight"))
      .orderBy("doc_id")
  }

  /** Pairwise Jensen–Shannon divergence between source token
    * distributions — the bounded (≤ ln 2), symmetric "how different
    * are these two sources" datasheet number: [[klPerSource]]-style
    * divergence but between every PAIR of sources, finite even when
    * vocabularies only partially overlap (where KL is +∞).
    *
    * JSD(p,q) = ½Σ p·ln(2p/(p+q)) + ½Σ q·ln(2q/(p+q)); terms where
    * one side is zero collapse to ½·ln2·(that side's unshared mass),
    * so only SHARED terms need the pair join — per pair we sum the
    * shared-term contributions (each snapped to 1e-12 fixed point,
    * exact integer sum) plus exact integer shared-token counts, and
    * assemble the unshared-mass closed form in the single finish.
    *
    * Scale shape: one (source, term) map-side-combined aggregation;
    * the pair join is term-keyed (AQE-decided — the vocabulary-sized
    * join rides a shuffle at scale, never a forced broadcast);
    * per-source totals ride a |sources|-row broadcast; output is
    * source-pair-bounded. Contract: a pair sharing NO term does not
    * appear (its JSD is exactly ln 2 — emitting it would need a
    * source cross join carrying nothing). */
  def jsdSourcePairs(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val st = Par.spread(docs.select(sf.col(srcCol).as("src"), sf.col(textCol).as("__t")))
      .filter(sf.col("src").isNotNull)
      .select(sf.col("src"), sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("w"))
      .groupBy("src", "w").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // totals + both pair-join sides read it
    val ns = st.groupBy("src").agg(sf.sum("c").as("n"))
    val a = st.select(sf.col("src").as("src_a"), sf.col("w"), sf.col("c").as("ca"))
    val b = st.select(sf.col("src").as("src_b"), sf.col("w"), sf.col("c").as("cb"))
    val na = sf.col("na").cast("double")
    val nb = sf.col("nb").cast("double")
    val pa = sf.col("ca").cast("double") / na
    val pb = sf.col("cb").cast("double") / nb
    val term = sf.lit(0.5) * pa * sf.log(sf.lit(2.0) * pa / (pa + pb)) +
      sf.lit(0.5) * pb * sf.log(sf.lit(2.0) * pb / (pa + pb))
    val shared = a.join(b, "w").filter(sf.col("src_a") < sf.col("src_b"))
      .join(sf.broadcast(ns.select(sf.col("src").as("src_a"), sf.col("n").as("na"))), "src_a")
      .join(sf.broadcast(ns.select(sf.col("src").as("src_b"), sf.col("n").as("nb"))), "src_b")
      .select(sf.col("src_a"), sf.col("src_b"), sf.col("na"), sf.col("nb"),
        sf.col("ca"), sf.col("cb"),
        sf.floor(term * 1e12 + 0.5).cast("long").as("__t12"))
      .groupBy("src_a", "src_b", "na", "nb")
      .agg(sf.count(sf.lit(1)).as("n_shared_terms"),
        sf.sum("ca").as("__sca"), sf.sum("cb").as("__scb"),
        sf.sum(sf.col("__t12").cast("decimal(38,0)")).as("__ts"))
    val ln2 = sf.log(sf.lit(2.0))
    shared.select(sf.col("src_a"), sf.col("src_b"), sf.col("n_shared_terms"),
        gf.roundAt(sf.col("__ts").cast("double") / 1e12 +
          sf.lit(0.5) * ln2 * ((na - sf.col("__sca").cast("double")) / na +
            (nb - sf.col("__scb").cast("double")) / nb), 6).as("jsd"))
      .orderBy("src_a", "src_b")
  }

  /** Pairwise total-variation / Hellinger / Bhattacharyya distances
    * between source token distributions — the metric companions of
    * [[jsdSourcePairs]], each answering a different question: TV =
    * ½Σ|p−q| is the largest possible probability disagreement (the
    * mixture-rebalancing number: moving TV mass makes the sources
    * identical), Hellinger = sqrt(1−BC) is a PROPER METRIC (triangle
    * inequality — safe to cluster sources on), and the Bhattacharyya
    * distance −ln BC grows without bound as overlap dies (the
    * classifier-separability reading). All three decompose over
    * shared terms + closed-form unshared mass, so the plan is
    * [[jsdSourcePairs]]' VERBATIM: TV adds ½(u_a+u_b), Hellinger's
    * ½Σ(√p−√q)² adds ½(u_a+u_b), BC is shared-only.
    *
    * Determinism: per shared term the three contributions snap to the
    * 1e-12 grid (exact integer sums); sqrt is IEEE-exact; the finish
    * is one pinned assembly per pair, rounded 1e-6; BD's final ln
    * runs on the snapped BC sum (the q217 convention). Zero-overlap
    * pairs don't appear (TV = 1, H = 1, BD = ∞ — the [[jsdSourcePairs]]
    * contract).
    *
    * Scale shape: identical to [[jsdSourcePairs]] — one (source,
    * term) map-side-combined aggregation, a term-keyed AQE-decided
    * pair join, broadcast totals, source-pair-bounded output. */
  def distributionDistances(docs: DataFrame, srcCol: String,
                            textCol: String): DataFrame = {
    val st = Par.spread(docs.select(sf.col(srcCol).as("src"), sf.col(textCol).as("__t")))
      .filter(sf.col("src").isNotNull)
      .select(sf.col("src"), sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("w"))
      .groupBy("src", "w").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // totals + both pair-join sides read it
    val ns = st.groupBy("src").agg(sf.sum("c").as("n"))
    val a = st.select(sf.col("src").as("src_a"), sf.col("w"), sf.col("c").as("ca"))
    val b = st.select(sf.col("src").as("src_b"), sf.col("w"), sf.col("c").as("cb"))
    val na = sf.col("na").cast("double")
    val nb = sf.col("nb").cast("double")
    val pa = sf.col("ca").cast("double") / na
    val pb = sf.col("cb").cast("double") / nb
    def snap12(c: Column) = sf.floor(c * 1e12 + 0.5).cast("long")
    val shared = a.join(b, "w").filter(sf.col("src_a") < sf.col("src_b"))
      .join(sf.broadcast(ns.select(sf.col("src").as("src_a"), sf.col("n").as("na"))), "src_a")
      .join(sf.broadcast(ns.select(sf.col("src").as("src_b"), sf.col("n").as("nb"))), "src_b")
      .select(sf.col("src_a"), sf.col("src_b"), sf.col("na"), sf.col("nb"),
        sf.col("ca"), sf.col("cb"),
        snap12(sf.lit(0.5) * sf.abs(pa - pb)).as("__tv12"),
        snap12(sf.lit(0.5) * (sf.sqrt(pa) - sf.sqrt(pb)) *
          (sf.sqrt(pa) - sf.sqrt(pb))).as("__h12"),
        snap12(sf.sqrt(pa * pb)).as("__bc12"))
      .groupBy("src_a", "src_b", "na", "nb")
      .agg(sf.count(sf.lit(1)).as("n_shared_terms"),
        sf.sum("ca").as("__sca"), sf.sum("cb").as("__scb"),
        sf.sum(sf.col("__tv12").cast("decimal(38,0)")).as("__tvs"),
        sf.sum(sf.col("__h12").cast("decimal(38,0)")).as("__hs"),
        sf.sum(sf.col("__bc12").cast("decimal(38,0)")).as("__bcs"))
    val ua = (na - sf.col("__sca").cast("double")) / na
    val ub = (nb - sf.col("__scb").cast("double")) / nb
    val bc = sf.col("__bcs").cast("double") / 1e12
    shared.select(sf.col("src_a"), sf.col("src_b"), sf.col("n_shared_terms"),
        gf.roundAt(sf.col("__tvs").cast("double") / 1e12 +
          sf.lit(0.5) * (ua + ub), 6).as("tv"),
        gf.roundAt(sf.sqrt(sf.col("__hs").cast("double") / 1e12 +
          sf.lit(0.5) * (ua + ub)), 6).as("hellinger"),
        sf.when(bc > 0, gf.roundAt(-sf.log(bc), 6)).as("bhattacharyya"))
      .orderBy("src_a", "src_b")
  }

  def zipfSlope(docs: DataFrame, textCol: String): DataFrame = {
    val uni = Par.spread(docs.select(sf.col(textCol)))
      .select(sf.explode(gf.wsTokens(sf.lower(sf.col(textCol)))).as("w"))
      .groupBy("w").agg(sf.count(sf.lit(1)).as("c_w"))
    val ranked = StarSchema.globalDenseIds(
      uni.withColumn("__negc", sf.negate(sf.col("c_w"))),
      Seq("__negc", "w"), keyName = "__rank")
    def lnFx(c: Column) = sf.floor(sf.log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val m = ranked.select(lnFx(sf.col("__rank")).as("lx"), lnFx(sf.col("c_w")).as("ly"))
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("lx"))).as("sx"), sf.sum(dec(sf.col("ly"))).as("sy"),
        sf.sum(dec(sf.col("lx")) * dec(sf.col("lx"))).as("sxx"),
        sf.sum(dec(sf.col("lx")) * dec(sf.col("ly"))).as("sxy"))
    val n = sf.col("n").cast("double")
    val sx = sf.col("sx").cast("double") / 1e6
    val sy = sf.col("sy").cast("double") / 1e6
    val sxx = sf.col("sxx").cast("double") / 1e12
    val sxy = sf.col("sxy").cast("double") / 1e12
    val den = n * sxx - sx * sx
    val slope = (n * sxy - sx * sy) / den
    m.select(sf.col("n").as("n_terms"),
      sf.when(den > 0.0, gf.roundAt(slope, 4)).as("slope"),
      sf.when(den > 0.0, gf.roundAt((sy - slope * sx) / n, 4)).as("intercept"))
  }

  /** Token↔label mutual information — feature selection for a quality
    * / language / domain classifier (the fastText-pipeline step before
    * [[graft.plans.Kernels.linearScore]]-style scoring): for every
    * token above a document-frequency floor, the MI between "token
    * present in doc" and a boolean label, from the exact 2×2
    * presence/label contingency counts. The top of this list is what a
    * linear quality classifier actually learns; the bottom is noise to
    * hash away.
    *
    * Determinism: all four cell counts are exact integers (distinct
    * (doc, token) collapse — presence, not frequency); MI is the
    * standard Σ (n/N)·ln(N·n/(rowM·colM)) with zero cells contributing
    * zero, assembled in pinned IEEE order and snapped 1e-6; the top-K
    * cut orders by (mi desc, token).
    *
    * Scale shape: one distinct-collapse explode, one map-side-combined
    * token-domain count, a broadcast one-row total, and a k-bounded
    * TakeOrdered — the vocabulary never sorts on one task. */
  def tokenLabelMI(docs: DataFrame, idCol: String, textCol: String,
                   labelExpr: Column, minDf: Long = 5,
                   topK: Int = 50): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val base = graft.operators.Par.spread(docs.select(
        sf.col(idCol).cast("long").as("id"), labelExpr.as("y"),
        gf.wsTokens(sf.lower(sf.col(textCol))).as("__toks")))
      .filter(sf.col("y").isNotNull)
    val totals = base.agg(sf.count(sf.lit(1)).as("__nn"),
      sf.sum(sf.col("y").cast("long")).as("__e"))
    val counts = base
      .select(sf.col("y"), sf.explode(sf.array_distinct(sf.col("__toks"))).as("w"))
      .groupBy("w")
      .agg(sf.count(sf.lit(1)).as("df"), sf.sum(sf.col("y").cast("long")).as("a"))
      .filter(sf.col("df") >= minDf)
    val joined = counts.crossJoin(sf.broadcast(totals))
    val nd = sf.col("__nn").cast("double")
    def cell(x: Column, rowM: Column, colM: Column) = {
      val xd = x.cast("double")
      sf.when(x > 0 && rowM > 0 && colM > 0,
        (xd / nd) * sf.log((nd * xd) / (rowM.cast("double") * colM.cast("double"))))
        .otherwise(0.0)
    }
    val a = sf.col("a")
    val b = sf.col("df") - a
    val c = sf.col("__e") - a
    val d = sf.col("__nn") - sf.col("df") - c
    val mi = cell(a, sf.col("df"), sf.col("__e")) +
      cell(b, sf.col("df"), sf.col("__nn") - sf.col("__e")) +
      cell(c, sf.col("__nn") - sf.col("df"), sf.col("__e")) +
      cell(d, sf.col("__nn") - sf.col("df"), sf.col("__nn") - sf.col("__e"))
    joined
      .select(sf.col("w").as("token"), sf.col("df"), a.as("n_label"),
        gf.roundAt(mi, 6).as("mi"))
      .orderBy(sf.col("mi").desc, sf.col("token"))
      .limit(topK)
  }

  /** Hill tail-index estimator over term frequencies (Hill 1975) —
    * the MAXIMUM-LIKELIHOOD companion to q133's Zipf OLS fit and
    * q169's Heaps growth: α̂ = k / Σ_{i≤k} ln(c_(i)/c_(k+1)) over the
    * k largest counts. The OLS fit weights the whole vocabulary
    * (body + tail); Hill reads ONLY the heavy tail, which is the part
    * that decides cache/heavy-hitter/skew behavior — disagreement
    * between the two is itself the signal (a body that isn't the tail's
    * power law = mixed regimes, e.g. natural text + id soup).
    *
    * Determinism: counts are exact; the top-(k+1) COUNT MULTISET is
    * well-defined under ties (boundary-tied tokens carry the same
    * count, so which ones the limit picks cannot change any ln term);
    * including the (k+1)-th row adds ln(1) = 0, so the sum runs over
    * all k+1 rows with no special-casing; each ln snaps 1e-9 before
    * the exact sum, one pinned final division rounded 1e-6.
    *
    * Scale shape: one hash-keyed map-side-combined count, a k-bounded
    * TakeOrdered (never a full vocabulary sort), and arithmetic on a
    * (k+1)-row frame. */
  def hillTailIndex(docs0: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    require(k >= 2 && k <= 10000, s"k must be in [2, 10000], got $k")
    val cnt = Par.spread(docs0.select(sf.col(textCol).as("__t")))
      .select(sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("w"))
      .groupBy(sf.xxhash64(sf.col("w")).as("wh"))
      .agg(sf.count(sf.lit(1)).as("c"))
    val top = cnt.orderBy(sf.col("c").desc).limit(k + 1).localCheckpoint(true)
    val th = top.agg(sf.min("c").as("ck1"))
    // the effective k is (rows - 1) — the number of ln terms above the
    // threshold row — NOT the requested k: a vocabulary smaller than
    // k+1 distinct tokens must shrink the estimator, not dilute it
    top.crossJoin(sf.broadcast(th))
      .agg(sf.sum(sf.floor(sf.log(sf.col("c").cast("double") /
          sf.col("ck1").cast("double")) * 1e9 + 0.5).cast("long")).as("sfx"),
        sf.min("ck1").as("c_threshold"), sf.count(sf.lit(1)).as("__rows"))
      .select((sf.col("__rows") - 1L).as("k"), sf.col("c_threshold"),
        sf.when(sf.col("sfx") > 0, gf.roundAt(
          (sf.col("__rows") - 1L).cast("double") /
            (sf.col("sfx").cast("double") / 1e9), 6))
          .as("hill_alpha"))
  }

  /** Per-source token-distribution datasheet: Shannon entropy (nats),
    * unigram PERPLEXITY exp(H) — the "effective vocabulary size" a
    * uniform distribution over that many tokens would have — and the
    * type-token ratio. The cross-source comparison the mixture
    * designer reads next to q63's KL and q142's concentration: a
    * source whose perplexity is far below its vocabulary is templated
    * boilerplate; one whose TTR approaches 1 is id/hash soup (the
    * per-doc q111 signal lifted to the source level, where the
    * mixture decision actually happens).
    *
    * Determinism: per-(source, token) counts are exact; each entropy
    * cell (c/N)·ln(c/N) is a pinned double snapped 1e-9 BEFORE the
    * unordered vocabulary-domain sum; entropy rounds 1e-6, perplexity
    * exp(−fx/1e9) rounds 1e-4 (exp parity is the q120 sigmoid
    * precedent). Scale shape: one hash-keyed map-side-combined count
    * (token text never shuffles), two domain-sized rollups, one join
    * on the source domain. */
  def sourceEntropy(docs0: DataFrame, sourceCol: String,
                    textCol: String): DataFrame = {
    val cnt = Par.spread(docs0.select(sf.col(sourceCol).as("source"),
        sf.col(textCol).as("__t")))
      .filter(sf.col("source").isNotNull)
      .select(sf.col("source"),
        sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("w"))
      .groupBy(sf.col("source"), sf.xxhash64(sf.col("w")).as("wh"))
      .agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true)
    val ns = cnt.groupBy("source")
      .agg(sf.sum("c").cast("long").as("n_tokens"),
        sf.count(sf.lit(1)).as("vocab"))
    val cd = sf.col("c").cast("double")
    val nd = sf.col("n_tokens").cast("double")
    val hfx = cnt.join(ns, "source")
      .groupBy("source")
      .agg(sf.sum(sf.floor(cd / nd * sf.log(cd / nd) * 1e9 + 0.5).cast("long"))
        .as("hfx"))
    ns.join(hfx, "source")
      .select(sf.col("source"), sf.col("n_tokens"), sf.col("vocab"),
        gf.roundAt(sf.col("vocab").cast("double") / nd, 6).as("ttr"),
        gf.roundAt(-sf.col("hfx").cast("double") / 1e9, 6).as("entropy"),
        gf.roundAt(sf.exp(-sf.col("hfx").cast("double") / 1e9), 4)
          .as("perplexity"))
      .orderBy("source")
  }

  /** Item/word embeddings trained IN-ENGINE: the PPMI co-occurrence
    * matrix compressed by a signed random projection. Levy & Goldberg
    * 2014 showed skip-gram-with-negative-sampling implicitly
    * factorizes the (shifted) PPMI matrix — so PPMI rows ARE honest
    * embeddings; the projection (Achlioptas 2003 ±1 signs; QJL/hash-
    * kernel family) maps each sparse vocab-dim row to `dims`
    * dense components WITHOUT materializing the matrix:
    * v(a)[d] = Σ_b ppmi(a,b)·sign(b,d), one aggregation. Signs come
    * from md5-60 bits of the CONTEXT token, so the whole construction
    * replays in any engine. The q157 window-pair universe, symmetrized.
    *
    * Determinism: pair/margin counts are exact integers; each pair's
    * PPMI snaps to a 1e-6 grid (single ln, pinned arg) and clamps at
    * 0; components are exact long sums of ppmi_fx·(±1) — NO float
    * accumulation anywhere. Output is the raw 1e6-scaled component.
    *
    * Scale shape: the pair explode is map-only and window-bounded;
    * pairs aggregate map-side to the pair DOMAIN; margins reduce that
    * domain; the dims fan-out multiplies the SUPPORTED pair domain
    * (minCount-floored) by a constant; the final component aggregation
    * is map-side-combinable on (token, dim). The corpus never sorts;
    * vocabulary text shuffles only as pair-domain keys. */
  def itemEmbeddings(docs0: DataFrame, textCol: String, window: Int = 2,
                     dims: Int = 16, minCount: Long = 5): DataFrame = {
    require(window >= 1 && window <= 16, s"window must be in [1, 16], got $window")
    require(dims >= 1 && dims <= 60, s"dims must be in [1, 60], got $dims")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = Par.spread(docs0.select(sf.col(textCol)))
      .select(gf.wsTokens(sf.lower(sf.col(textCol))).as("t"))
    val raw = toks.filter(sf.size(sf.col("t")) >= 2)
      .select(sf.explode(sf.flatten(sf.expr(
        s"""transform(sequence(0, size(t) - 2),
           |  i -> transform(sequence(i + 1, least(i + $window, size(t) - 1)),
           |    j -> struct(t[i] AS a, t[j] AS b)))""".stripMargin))).as("p"))
      .select(sf.col("p.a").as("a"), sf.col("p.b").as("b"))
      // drop same-token pairs (e.g. 'x y x' at window 2): mirroring
      // them would double-count the diagonal c_aa and inflate margins
      // relative to standard PPMI construction
      .filter(sf.col("a") =!= sf.col("b"))
    val pairs = raw.union(raw.select(sf.col("b").as("a"), sf.col("a").as("b")))
      .groupBy("a", "b").agg(sf.count(sf.lit(1)).as("c_ab"))
      .localCheckpoint(true)
    val outM = pairs.groupBy("a").agg(sf.sum("c_ab").as("c_out"))
    val inM = pairs.groupBy("b").agg(sf.sum("c_ab").as("c_in"))
    val tot = pairs.agg(sf.sum("c_ab").as("n_pairs"))
    val lnArg = sf.col("c_ab").cast("double") * sf.col("n_pairs").cast("double") /
      (sf.col("c_out").cast("double") * sf.col("c_in").cast("double"))
    val pfx = sf.greatest(
      sf.floor(sf.log(lnArg) * 1e6 + 0.5).cast("long"), sf.lit(0L))
    pairs.filter(sf.col("c_ab") >= minCount)
      .join(outM, "a")
      .join(inM, "b")
      .crossJoin(sf.broadcast(tot))
      .select(sf.col("a"), pfx.as("pfx"), gf.tokenHash60(sf.col("b")).as("h"))
      .filter(sf.col("pfx") > 0)
      .select(sf.col("a"), sf.col("pfx"), sf.col("h"),
        sf.explode(sf.sequence(sf.lit(0), sf.lit(dims - 1))).as("d"))
      .groupBy(sf.col("a").as("token"), sf.col("d"))
      .agg(sf.sum(sf.col("pfx") *
        (sf.expr("(h div CAST(power(2, d) AS BIGINT)) % 2") * 2L - 1L))
        .cast("long").as("v_fx"))
      .select(sf.col("token"), sf.col("d").cast("int").as("dim"), sf.col("v_fx"))
      .orderBy("token", "dim")
  }

  /** Good-Turing frequency-of-frequencies datasheet (Good 1953; Gale &
    * Sampson 1995): S(r) = how many distinct tokens occur exactly r
    * times, the adjusted count r* = (r+1)·S(r+1)/S(r), and the total
    * GT-smoothed probability mass at each count — including the r=0
    * row, whose mass S(1)/N is the MISSING MASS: the probability the
    * next token drawn is one never seen, i.e. how "open" this corpus's
    * vocabulary still is (the number that says whether an LM's OOV
    * handling matters and whether a vocab-size choice saturates). The
    * identity S(r)·r* / N = (r+1)·S(r+1)/N makes every mass a single
    * exact-integer ratio — no chained division.
    *
    * Scale shape: one hash-keyed map-side-combined token count, one
    * count-domain rollup FILTERED to r <= maxR+1 before grouping (the
    * S table never exceeds maxR+1 rows), N from the same count table;
    * the output grid is a maxR-row literal joined against one-row /
    * tiny broadcast frames. The corpus never sorts. */
  def goodTuring(docs0: DataFrame, idCol: String, textCol: String,
                 maxR: Int = 10): DataFrame = {
    require(maxR >= 1 && maxR <= 1000, s"maxR must be in [1, 1000], got $maxR")
    val spark = docs0.sparkSession
    import spark.implicits._
    val cnt = Par.spread(docs0.select(sf.col(textCol).as("__t")))
      .select(sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("w"))
      .groupBy(sf.xxhash64(sf.col("w")).as("wh"))
      .agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true)
    val nTok = cnt.agg(sf.sum("c").cast("long").as("n_tok"))
    val srTab = cnt.filter(sf.col("c") <= maxR + 1)
      .groupBy(sf.col("c").as("r")).agg(sf.count(sf.lit(1)).as("s"))
    val grid = (0L to maxR.toLong).toDF("r")
    grid
      .join(sf.broadcast(srTab), Seq("r"), "left")
      .join(sf.broadcast(srTab.select((sf.col("r") - 1L).as("r"),
        sf.col("s").as("s1"))), Seq("r"), "left")
      .crossJoin(sf.broadcast(nTok))
      .select(sf.col("r"),
        sf.when(sf.col("r") > 0, sf.coalesce(sf.col("s"), sf.lit(0L))).as("s_r"),
        sf.when(sf.col("r") > 0 && sf.coalesce(sf.col("s"), sf.lit(0L)) > 0,
          gf.roundAt(((sf.col("r") + 1L) * sf.coalesce(sf.col("s1"), sf.lit(0L)))
            .cast("double") / sf.col("s").cast("double"), 6)).as("r_star"),
        gf.roundAt(((sf.col("r") + 1L) * sf.coalesce(sf.col("s1"), sf.lit(0L)))
          .cast("double") / sf.col("n_tok").cast("double"), 6).as("p_mass"))
      .orderBy("r")
  }

  /** Multinomial Naive Bayes trained IN-ENGINE and evaluated on a
    * held-out split — the add-one-smoothed generative twin of the
    * discriminative q73 scorer, and the classic strong baseline every
    * text-classification eval starts from (McCallum & Nigam 1998).
    * Trains label priors and per-(token, label) likelihoods on the
    * deterministic 90% hash split, predicts argmax on the held-out
    * 10%, and returns the CONFUSION MATRIX (true × predicted counts) —
    * the readout that tells a curation pipeline whether a metadata
    * label (language, source) is learnable from the text at all.
    *
    * Exact fixed-point protocol: with add-one smoothing, an UNSEEN
    * (token, label) contributes ln(0+1) = 0, so the score decomposes
    * as prior + Σ_w n_w·ln(c(w,l)+1) − N_doc·ln(tok_l + V) — only
    * SEEN pairs join, the denominator factors out. Each ln snaps to a
    * 1e-6 grid; scores assemble in exact longs; argmax breaks ties on
    * (score desc, label asc).
    *
    * Scale shape: count tables are map-side-combined aggregations
    * keyed by 64-bit token hashes (text never shuffles; collisions
    * merge counts — the q68 conservative family); the eval stream
    * compresses per (doc, token) before the ONE likelihood join
    * (AQE-decided); the per-label constant table is label-domain-sized
    * and broadcast; the per-doc argmax is a doc-partitioned window.
    * Label domain must be bounded (it is a metadata enum). */
  def naiveBayesEval(docs0: DataFrame, idCol: String, textCol: String,
                     labelCol: String): DataFrame = {
    val withT = Par.spread(docs0.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(labelCol).cast("string").as("lbl"), sf.col(textCol).as("__t")))
      .filter(sf.col("lbl").isNotNull)
      .select(sf.col("doc_id"), sf.col("lbl"),
        gf.wsTokens(sf.lower(sf.col("__t"))).as("toks"))
      .withColumn("is_train",
        sf.pmod(sf.col("doc_id"), sf.lit(2147483648L)) * 2654435761L % 4294967296L % 10000 < 9000)
      .localCheckpoint(true)
    val train = withT.filter(sf.col("is_train"))
    val evalD = withT.filter(!sf.col("is_train"))
    val fx6 = (c: Column) => sf.floor(sf.log(c) * 1e6 + 0.5).cast("long")
    // per-(token, label) counts with their snapped ln(c+1)
    val twl = train.select(sf.col("lbl"), sf.explode(sf.col("toks")).as("w"))
      .groupBy(sf.xxhash64(sf.col("w")).as("wh"), sf.col("lbl"))
      .agg(sf.count(sf.lit(1)).as("c"))
      .withColumn("lnc_fx", fx6((sf.col("c") + 1L).cast("double")))
      .localCheckpoint(true)
    val tl = twl.groupBy("lbl").agg(sf.sum("c").cast("long").as("tok_l"))
    val vt = twl.select("wh").distinct().agg(sf.count(sf.lit(1)).as("v"))
    val pr = train.groupBy("lbl").agg(sf.count(sf.lit(1)).as("n_l"))
    val nd = train.agg(sf.count(sf.lit(1)).as("n_docs"))
    // per-label constants: snapped ln prior and ln denominator
    val consts = pr.crossJoin(sf.broadcast(nd))
      .join(tl, "lbl").crossJoin(sf.broadcast(vt))
      .select(sf.col("lbl").as("cand"),
        fx6(sf.col("n_l").cast("double") / sf.col("n_docs").cast("double"))
          .as("prior_fx"),
        fx6((sf.col("tok_l") + sf.col("v")).cast("double")).as("den_fx"))
    // held-out doc-token counts (compressed) and doc totals
    val et = evalD.select(sf.col("doc_id"), sf.explode(sf.col("toks")).as("w"))
      .groupBy(sf.col("doc_id"), sf.xxhash64(sf.col("w")).as("wh"))
      .agg(sf.count(sf.lit(1)).as("n_w"))
    val part = et.join(twl.select(sf.col("wh"), sf.col("lbl").as("cand"),
        sf.col("lnc_fx")), "wh")
      .groupBy("doc_id", "cand")
      .agg(sf.sum(sf.col("n_w") * sf.col("lnc_fx")).as("s_fx"))
    val dt = evalD.select(sf.col("doc_id"), sf.col("lbl").as("label_true"),
      sf.size(sf.col("toks")).cast("long").as("n_tok"))
    val scored = dt.crossJoin(sf.broadcast(consts))
      .join(part, Seq("doc_id", "cand"), "left")
      .select(sf.col("doc_id"), sf.col("label_true"), sf.col("cand"),
        (sf.col("prior_fx") + sf.coalesce(sf.col("s_fx"), sf.lit(0L)) -
          sf.col("n_tok") * sf.col("den_fx")).as("score_fx"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(sf.col("score_fx").desc, sf.col("cand"))
    scored.withColumn("__rn", sf.row_number().over(w))
      .filter(sf.col("__rn") === 1)
      .groupBy(sf.col("label_true"), sf.col("cand").as("label_pred"))
      .agg(sf.count(sf.lit(1)).as("n_docs"))
      .orderBy("label_true", "label_pred")
  }

  /** Chao1 vocabulary-richness estimate (Chao 1984, bias-corrected
    * form) + Good's sample coverage — "how big is the vocabulary we
    * HAVEN'T seen yet": Chao1 = D + S₁(S₁−1)/(2(S₂+1)) lower-bounds
    * the true type count from the singleton/doubleton ratio, and
    * coverage 1 − S₁/N says what fraction of the next sample's token
    * mass will be already-known types. The third leg of the
    * vocabulary-saturation tripod beside [[heapsLawFit]] (the growth
    * CURVE) and [[goodTuring]] (the missing MASS): Heaps says how fast
    * vocab grows, GT says how much probability is unseen, Chao1 says
    * how many TYPES are still out there — the number a tokenizer-vocab
    * or dedup-capacity decision actually wants.
    *
    * Determinism: D/S₁/S₂/N are exact integers from one hash-keyed
    * count; Chao1 is ONE pinned division rounded 1e-4 (the
    * bias-corrected denominator S₂+1 keeps it defined when S₂ = 0);
    * coverage one pinned division rounded 1e-6.
    *
    * Scale shape: one hash-keyed map-side-combined token count (token
    * text never shuffles), one single-row reduction over the count
    * table filtered to c <= 2 plus totals — the goodTuring plan with a
    * 1-row finish. */
  def chao1(docs0: DataFrame, textCol: String): DataFrame = {
    val cnt = Par.spread(docs0.select(sf.col(textCol).as("__t")))
      .select(sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("w"))
      .groupBy(sf.xxhash64(sf.col("w")).as("wh"))
      .agg(sf.count(sf.lit(1)).as("c"))
    val s1 = sf.col("s1").cast("double")
    val s2 = sf.col("s2").cast("double")
    cnt.agg(sf.sum("c").cast("long").as("n_tokens"),
        sf.count(sf.lit(1)).as("n_distinct"),
        sf.sum(sf.when(sf.col("c") === 1, 1L).otherwise(0L)).cast("long").as("s1"),
        sf.sum(sf.when(sf.col("c") === 2, 1L).otherwise(0L)).cast("long").as("s2"))
      .select(sf.col("n_tokens"), sf.col("n_distinct"), sf.col("s1"), sf.col("s2"),
        gf.roundAt(sf.col("n_distinct").cast("double") +
          s1 * (s1 - 1.0) / ((s2 + 1.0) * 2.0), 4).as("chao1"),
        gf.roundAt(sf.lit(1.0) -
          s1 / sf.col("n_tokens").cast("double"), 6).as("coverage"))
  }

  /** Burrows' Delta stylometric distance between sources (Burrows
    * 2002; the authorship-attribution workhorse): over the `topK` most
    * frequent tokens corpus-wide, z-score each source's RELATIVE
    * frequency against the cross-source mean/SD per token, then
    * Delta(a,b) = mean |z_a − z_b|. Two "different" sources with a
    * tiny Delta are the same generator wearing different labels (site
    * mirrors, template farms, the same scraper twice) — the
    * provenance-dedup signal that survives content paraphrase because
    * it reads FUNCTION-word style, not topic. Complements
    * [[minhashSourceSimilarity]] (content overlap) with style overlap.
    *
    * Determinism: the top-K term set is the (count desc, token asc)
    * total order — deterministic under ties; relative frequencies
    * snap 1e-9; per-token cross-source mean and POPULATION SD are
    * pinned doubles over exact fx sums (sqrt is IEEE-exact); z snaps
    * 1e-6 before the pair assembly; Delta is one pinned mean rounded
    * 1e-4. Zero-variance tokens (identical share everywhere) drop from
    * every pair symmetrically.
    *
    * Scale shape: one (source, token) map-side-combined count, a
    * K-bounded TakeOrdered for the term set (never a vocabulary sort),
    * a broadcast term-set join, and the z/Delta stages live on the
    * (sources × K) and (sources² × K) DOMAINS — corpus-size-free after
    * the first aggregation. Token text shuffles only as count-domain
    * keys (the distinctiveTerms contract — function-word top-K needs
    * the text for a portable tie-break anyway). */
  def burrowsDelta(docs0: DataFrame, sourceCol: String, textCol: String,
                   topK: Int = 50): DataFrame = {
    require(topK >= 2 && topK <= 2000, s"topK must be in [2, 2000], got $topK")
    val st = Par.spread(docs0.select(sf.col(sourceCol).as("src"),
        sf.col(textCol).as("__t")))
      .filter(sf.col("src").isNotNull)
      .select(sf.col("src"),
        sf.explode(gf.wsTokens(sf.lower(sf.col("__t")))).as("w"))
      .groupBy(sf.col("src"), sf.col("w").as("wh"))
      .agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // totals + term set + share stream read it
    val totals = st.groupBy("src").agg(sf.sum("c").cast("long").as("nt"))
    val top = st.groupBy("wh").agg(sf.sum("c").as("cg"))
      .orderBy(sf.col("cg").desc, sf.col("wh")).limit(topK)
      .select("wh")
    // relative frequency per (source, top term), zero-filled on the
    // full sources x terms grid so absent terms count as share 0
    val grid = totals.crossJoin(sf.broadcast(top))
    val f9 = sf.floor(sf.coalesce(sf.col("c"), sf.lit(0L)).cast("double") /
      sf.col("nt").cast("double") * 1e9 + 0.5).cast("long")
    val shares = grid.join(st, Seq("src", "wh"), "left")
      .select(sf.col("src"), sf.col("wh"), f9.as("f9"))
      .localCheckpoint(true) // moments + both pair sides read it
    val nSrc = sf.col("ns").cast("double")
    val mu = sf.col("sf").cast("double") / nSrc
    val sd = sf.sqrt((sf.col("sff").cast("double") -
      nSrc * mu * mu) / nSrc)
    val moments = shares.groupBy("wh")
      .agg(sf.count(sf.lit(1)).as("ns"),
        sf.sum(sf.col("f9").cast("decimal(38,0)")).as("sf"),
        sf.sum((sf.col("f9") * sf.col("f9")).cast("decimal(38,0)")).as("sff"))
      .select(sf.col("wh"), sf.floor(mu * 1e3 + 0.5).cast("long").as("mu12"),
        sf.floor(sd * 1e3 + 0.5).cast("long").as("sd12"))
      .filter(sf.col("sd12") > 0)
    // z in 1e-6 grid: (f9*1e3 - mu12*1e9... keep it simple: pinned
    // doubles from the snapped 1e-12-scale integers, snapped 1e-6
    val z6 = sf.floor((sf.col("f9").cast("double") * 1e3 - sf.col("mu12").cast("double")) /
      sf.col("sd12").cast("double") * 1e6 + 0.5).cast("long")
    val zs = shares.join(sf.broadcast(moments), "wh")
      .select(sf.col("src"), sf.col("wh"), z6.as("z6"))
    val a = zs.select(sf.col("src").as("source_a"), sf.col("wh"), sf.col("z6").as("za"))
    val b = zs.select(sf.col("src").as("source_b"), sf.col("wh"), sf.col("z6").as("zb"))
    a.join(b, "wh")
      .filter(sf.col("source_a") < sf.col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sf.count(sf.lit(1)).as("n_terms"),
        sf.sum(sf.abs(sf.col("za") - sf.col("zb"))).as("__sabs"))
      .select(sf.col("source_a"), sf.col("source_b"), sf.col("n_terms"),
        gf.roundAt(sf.col("__sabs").cast("double") / 1e6 /
          sf.col("n_terms").cast("double"), 4).as("delta"))
      .orderBy("source_a", "source_b")
  }

  /** Theil inequality decomposition (Theil 1967) of per-document token
    * mass across sources: T_total = T_between + Σ_s w_s·T_within_s —
    * the DECOMPOSABLE inequality index the row-170 Gini can't give:
    * "is token-mass concentration a few giant SOURCES (between) or a
    * few giant documents inside each source (within)?" — the number
    * that says whether mixture re-weighting (a between-source lever)
    * can fix concentration at all, or whether per-source length caps
    * (a within lever) are needed. Reported: T_total, T_between, the
    * weighted within sum, and the decomposition residual (exact
    * mathematically; ~1e-6 after snapping — printing it IS the audit).
    *
    * Determinism: token counts are exact integers; every entropy term
    * — (x/X)·ln(nx/X) for total, (X_s/X)·ln((X_s/X)/(n_s/n)) for
    * between, (x/X)·ln(n_s·x/X_s) for the weighted within — is a
    * pinned double from exact integers snapped to the 1e-12 integer
    * grid BEFORE its unordered sum; zero-token docs contribute 0 (the
    * 0·ln 0 convention); outputs round 1e-6.
    *
    * Scale shape: one map-only token count per doc, one
    * source-domain rollup, a broadcast source-stats join back onto
    * the doc stream, ONE combinable two-term aggregation + a
    * domain-sized between sum. No windows, no corpus sort. */
  def theilDecomposition(docs: DataFrame, textCol: String,
                         sourceCol: String): DataFrame = {
    val x = sf.size(gf.wsTokens(sf.lower(sf.col(textCol)))).cast("long")
    val base = Par.spread(docs.select(sf.col(sourceCol).as("__s"),
        sf.col(textCol)))
      .filter(sf.col(textCol).isNotNull && sf.col("__s").isNotNull)
      .select(sf.col("__s"), x.as("__x"))
    val bySrc = base.groupBy("__s")
      .agg(sf.count(sf.lit(1)).as("__ns"), sf.sum("__x").cast("long").as("__xs"))
      .localCheckpoint(true) // totals + the doc join + between read it
    val tot = bySrc.agg(sf.sum("__ns").cast("long").as("__nTot"),
      sf.sum("__xs").cast("long").as("__xTot"))
    def snap12(c: Column) = sf.floor(c * 1e12 + 0.5).cast("long")
    val withS = base.join(sf.broadcast(bySrc), "__s")
      .crossJoin(sf.broadcast(tot))
    val xD = sf.col("__x").cast("double")
    val xTotD = sf.col("__xTot").cast("double")
    val docTerms = withS.select(
      sf.when(sf.col("__x") > 0, snap12(
        xD / xTotD *
          sf.log(sf.col("__nTot").cast("double") * xD / xTotD)))
        .otherwise(0L).as("__tt"),
      sf.when(sf.col("__x") > 0, snap12(
        xD / xTotD *
          sf.log(sf.col("__ns").cast("double") * xD /
            sf.col("__xs").cast("double")))).otherwise(0L).as("__tw"))
    val sums = docTerms.agg(sf.sum("__tt").as("__t12"), sf.sum("__tw").as("__w12"))
    val between = bySrc.crossJoin(sf.broadcast(tot))
      .select(sf.when(sf.col("__xs") > 0, snap12(
        sf.col("__xs").cast("double") / sf.col("__xTot").cast("double") *
          sf.log((sf.col("__xs").cast("double") / sf.col("__xTot").cast("double")) /
            (sf.col("__ns").cast("double") / sf.col("__nTot").cast("double")))))
        .otherwise(0L).as("__tb"))
      .agg(sf.sum("__tb").as("__b12"), sf.count(sf.lit(1)).as("n_sources"))
    sums.crossJoin(sf.broadcast(between)).crossJoin(sf.broadcast(tot))
      .select(sf.col("__nTot").as("n_docs"), sf.col("n_sources"),
        gf.roundAt(sf.col("__t12").cast("double") / 1e12, 6).as("theil_total"),
        gf.roundAt(sf.col("__b12").cast("double") / 1e12, 6).as("theil_between"),
        gf.roundAt(sf.col("__w12").cast("double") / 1e12, 6).as("theil_within"),
        gf.roundAt((sf.col("__t12") - sf.col("__b12") - sf.col("__w12"))
          .cast("double") / 1e12, 6).as("residual"))
  }

  /** Per-source Gini concentration of per-document token mass (Gini
    * 1912; grouped-data/Lorenz form): the WITHIN-source companion
    * readout of [[theilDecomposition]] — Theil says between-vs-within,
    * Gini says HOW SKEWED each source's own document-length
    * distribution is on the scale every datasheet reader knows (0 =
    * every doc the same length, →1 = one giant doc carries the
    * source), plus a corpus-wide `(all)` row. The standard grouped
    * (tie-exact) estimator over the ascending value domain:
    *
    *   G = (N·M − Σ_k c_k·(M_{k−1} + M_k)) / (N·M)
    *
    * with c_k docs at value v_k, mass m_k = v_k·c_k and M_k the
    * inclusive cumulative mass — the trapezoid rule under the Lorenz
    * curve, EXACT under ties because tied values form one flat
    * segment.
    *
    * Determinism: counts/masses are exact integers; every product
    * accumulates as DECIMAL(38,0) (N·M squares the corpus); ONE double
    * division per source rounded 1e-6; an all-zero-mass source yields
    * NULL.
    *
    * Scale shape: one map-only token count, one (source, value)-domain
    * collapse (map-side combinable — pair mass lives on the VALUE
    * domain, the hodgesLehmann contract), per-source cumulative sums
    * over the COLLAPSED domain (each source's partition is bounded by
    * its distinct doc lengths, never its doc count), and a domain-only
    * re-aggregation for the corpus row — the doc stream is read
    * once. */
  def lorenzGini(docs: DataFrame, textCol: String,
                 sourceCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = sf.size(gf.wsTokens(sf.lower(sf.col(textCol)))).cast("long")
    val base = Par.spread(docs.select(sf.col(sourceCol).as("__s"),
        sf.col(textCol)))
      .filter(sf.col(textCol).isNotNull && sf.col("__s").isNotNull)
      .select(sf.col("__s"), x.as("__x"))
    val srcCells = base.groupBy("__s", "__x")
      .agg(sf.count(sf.lit(1)).as("__c"))
      .localCheckpoint(true) // per-source chain + corpus re-agg read it
    val allCells = srcCells.groupBy("__x")
      .agg(sf.sum("__c").cast("long").as("__c"))
      .select(sf.lit("(all)").as("__s"), sf.col("__x"), sf.col("__c"))
    def giniOf(cells: DataFrame,
               w: org.apache.spark.sql.expressions.WindowSpec) = {
      val m = dec(sf.col("__x")) * dec(sf.col("__c"))
      cells
        .withColumn("__m", m)
        .withColumn("__cumM", sf.sum("__m").over(w))
        .groupBy("__s")
        .agg(sf.sum("__c").cast("long").as("n_docs"),
          sf.sum("__m").as("__M"),
          sf.sum(dec(sf.col("__c")) *
            (sf.lit(2) * sf.col("__cumM") - sf.col("__m"))).as("__trap"))
        .select(sf.col("__s").as("source"), sf.col("n_docs"),
          sf.col("__M").cast("long").as("total_tokens"),
          sf.when(sf.col("__M") > 0, gf.roundAt(
            (dec(sf.col("n_docs")) * sf.col("__M") - sf.col("__trap"))
              .cast("double") /
            (dec(sf.col("n_docs")) * sf.col("__M")).cast("double"), 6))
            .as("gini"))
    }
    // domain-sized windows: partitions are value domains. The (all)
    // pass must NOT partition by its "(all)" literal — Spark's
    // EliminateWindowPartitions strips foldable keys, leaving a bare
    // global window (the WindowExec one-task warning); the ksTest
    // idiom (pmod(hash(domain), 1): constant-valued but non-foldable)
    // keeps the bounded-by-the-domain intent explicit in the plan.
    val wSrc = Window.partitionBy("__s").orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(sf.pmod(sf.hash(sf.col("__x")), sf.lit(1)))
      .orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    giniOf(srcCells, wSrc).unionByName(giniOf(allCells, wAll))
      .orderBy("source")
  }

  /** Leave-one-out bigram self-overlap per source — the Self-BLEU
    * corpus-diversity signal (Zhu et al. 2018's Texygen metric,
    * reduced to its scalable modified-bigram-precision core): for each
    * document, the CLIPPED bigram precision against the REST of its
    * source's bigram pool,
    *
    *   P_d = Σ_g min(c_gd, C_gs − c_gd) / Σ_g c_gd,
    *
    * and novelty 1 − P_d — high average overlap = the source's
    * documents re-use each other's phrasing (template farms, generator
    * mode collapse), high novelty = diverse text. The corpus-level
    * companion of the per-doc repetition gates: THIS is the number a
    * synthetic-data pipeline watches for collapse. Docs with < 2
    * tokens carry no bigrams and are excluded (documented).
    *
    * Determinism: all counts exact; each P_d snaps to the 1e-6 integer
    * grid, per-source averages are exact integer sums with ONE pinned
    * division each, rounded 1e-6.
    *
    * Scale shape: one (source, doc, gram) collapse (fan-out bounded by
    * doc length), one gram-pool rollup, ONE gram-keyed equi join back
    * (AQE-sized; the clip needs only c_gd and the pool count), one
    * doc rollup, one source rollup. No windows, no self-join over
    * documents. */
  def selfBleuNovelty(docs: DataFrame, idCol: String, textCol: String,
                      sourceCol: String): DataFrame = {
    val base = Par.spread(docs.select(sf.col(sourceCol).as("source"),
        sf.col(idCol).as("__id"), sf.col(textCol)))
      .filter(sf.col(textCol).isNotNull && sf.col("source").isNotNull)
      .select(sf.col("source"), sf.col("__id"),
        sf.explode(gf.wordBigrams(sf.lower(sf.col(textCol)))).as("gram"))
    val perDoc = base.groupBy("source", "__id", "gram")
      .agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // pool + join read it
    val pool = perDoc.groupBy("source", "gram")
      .agg(sf.sum("c").cast("long").as("cs"))
    val p6 = perDoc.join(pool, Seq("source", "gram"))
      .groupBy("source", "__id")
      .agg(sf.sum(sf.least(sf.col("c"), sf.col("cs") - sf.col("c"))).as("__m"),
        sf.sum("c").as("__t"))
      .select(sf.col("source"),
        sf.floor(sf.col("__m").cast("double") / sf.col("__t").cast("double")
          * 1e6 + 0.5).cast("long").as("__p6"))
    p6.groupBy("source")
      .agg(sf.count(sf.lit(1)).as("n_docs"), sf.sum("__p6").as("__sp"))
      .select(sf.col("source"), sf.col("n_docs"),
        gf.roundAt(sf.col("__sp").cast("double") /
          sf.col("n_docs").cast("double") / 1e6, 6).as("avg_overlap"),
        gf.roundAt(sf.lit(1.0) - sf.col("__sp").cast("double") /
          sf.col("n_docs").cast("double") / 1e6, 6).as("avg_novelty"))
      .orderBy("source")
  }

  /** Rank-biased overlap of two top-k rankings (Webber, Moffat &
    * Zobel 2010, TOIS — THE indefinite-ranking agreement measure):
    * RBO = (1−p)·Σ_d p^(d−1)·|A_d ∩ B_d|/d over depths d ≤ k, the
    * top-weighted alternative to row-176 Spearman/row-320 τ when only
    * ranked PREFIXES exist (two retrievers' top-100, this week's vs
    * last week's top sellers): disagreement at rank 3 matters more
    * than at rank 97, p tunes how fast attention decays (p = 0.9 ≈
    * the top 10 carry ~86% of the weight). Truncated (RBO_min)
    * convention: depths beyond k contribute nothing — the
    * conservative published lower bound.
    *
    * Determinism: depth weights (1−p)p^(d−1)/d are PLAN-TIME literals
    * snapped to 1e-12 integer longs, and each shared item contributes
    * the SUFFIX weight sum from its max rank — also a plan-time
    * literal array — so the whole statistic is one exact integer sum,
    * divided once, rounded 1e-6. The identical literal vectors embed
    * in the SQL oracle (the lshPlanes convention), so engine `pow`
    * differences cannot enter.
    *
    * Scale shape: two rank-filtered scans + ONE id-keyed equi join
    * (AQE broadcasts k-bounded sides) + one combinable single-row
    * sum; the k-length literal rides the plan. Callers produce ranks
    * with `globalDenseIds` (range-partitioned), never a one-task
    * window. */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, idCol: String,
                        rankCol: String, k: Int,
                        p: Double = 0.9): DataFrame = {
    require(k >= 1 && k <= 10000, s"k must be in [1, 10000], got $k")
    require(p > 0 && p < 1, s"p must be in (0, 1), got $p")
    val w12 = Array.tabulate(k)(i =>
      math.floor((1 - p) * math.pow(p, i) / (i + 1) * 1e12 + 0.5).toLong)
    val suff = new Array[Long](k + 1)
    var i = k - 1
    while (i >= 0) { suff(i) = suff(i + 1) + w12(i); i -= 1 }
    val suffArr = suff.take(k) // suffArr(m-1) = weight of all depths >= m
    val ra = a.filter(sf.col(rankCol) <= k)
      .select(sf.col(idCol).as("__id"), sf.col(rankCol).cast("long").as("__ra"))
    val rb = b.filter(sf.col(rankCol) <= k)
      .select(sf.col(idCol).as("__id"), sf.col(rankCol).cast("long").as("__rb"))
    ra.join(rb, "__id")
      .select(sf.greatest(sf.col("__ra"), sf.col("__rb")).as("__m"))
      .agg(sf.count(sf.lit(1)).as("__nc"),
        sf.sum(sf.element_at(sf.lit(suffArr), sf.col("__m").cast("int")))
          .as("__s12"))
      .select(sf.lit(k.toLong).as("k"), sf.lit(p).as("p"),
        sf.coalesce(sf.col("__nc"), sf.lit(0L)).as("n_common"),
        gf.roundAt(sf.coalesce(sf.col("__s12"), sf.lit(0L)).cast("double")
          / 1e12, 6).as("rbo"))
  }

  /** Hill diversity numbers per source (Hill 1973; the "effective
    * number of species" unification ecology standardized on): the
    * diversity PROFILE of each source's token distribution on ONE
    * interpretable scale — counts of equally-common token types:
    * ⁰D = richness (distinct types), ¹D = exp(Shannon H) (types
    * weighted by share), ²D = 1/Σp² (inverse Simpson — dominance-
    * weighted). Reading the three together is the standard
    * concentration diagnostic row 283's raw entropy can't give
    * directly: ¹D/⁰D near 1 = even vocabulary use, ²D ≪ ¹D = a few
    * dominant types carry the mass (template/boilerplate signature).
    *
    * Determinism: token counts exact; Σp² is the exact rational
    * Σc²/T² (DECIMAL(38,0) numerator, one pinned division); Shannon
    * terms −(c/T)·ln(c/T) snap to the 1e-12 integer grid BEFORE the
    * unordered sum (the row-343 convention), ¹D = exp of the snapped
    * sum (the q173 exp convention), outputs round 1e-6.
    *
    * Scale shape: one (source, term) collapse (map-side combinable) +
    * one source-domain rollup with a broadcast per-source total. No
    * windows, no corpus sort. */
  def hillDiversity(docs: DataFrame, textCol: String,
                    sourceCol: String): DataFrame = {
    val terms = Par.spread(docs.select(sf.col(sourceCol).as("source"),
        sf.col(textCol)))
      .filter(sf.col(textCol).isNotNull && sf.col("source").isNotNull)
      .select(sf.col("source"),
        sf.explode(gf.wsTokens(sf.lower(sf.col(textCol)))).as("term"))
      .groupBy("source", "term").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // totals + term terms read it
    val totals = terms.groupBy("source")
      .agg(sf.sum("c").cast("long").as("__t"))
    val cD = sf.col("c").cast("double")
    val tD = sf.col("__t").cast("double")
    val h12 = sf.floor(-(cD / tD) * sf.log(cD / tD) * 1e12 + 0.5).cast("long")
    terms.join(sf.broadcast(totals), "source")
      .groupBy("source")
      .agg(sf.max("__t").as("n_tokens"),
        sf.count(sf.lit(1)).as("richness"),
        sf.sum(h12).as("__h12"),
        sf.sum(dec(sf.col("c")) * dec(sf.col("c"))).as("__sq"))
      .select(sf.col("source"), sf.col("n_tokens"), sf.col("richness"),
        gf.roundAt(sf.exp(sf.col("__h12").cast("double") / 1e12), 6)
          .as("hill_shannon"),
        gf.roundAt((dec(sf.col("n_tokens")) * dec(sf.col("n_tokens")))
          .cast("double") / sf.col("__sq").cast("double"), 6)
          .as("hill_simpson"))
      .orderBy("source")
  }

  /** Per-term burstiness (Church & Gale 1995): the variance-to-mean
    * ratio of a term's PER-DOCUMENT count, zeros included — function
    * words spread evenly (ratio near the Poisson 1), content/topical
    * terms CLUMP (a doc that mentions them mentions them repeatedly),
    * and boilerplate markers clump pathologically — the term-level
    * routing signal beside the doc-level repetition gates: top-of-list
    * terms are topic anchors (keep) or template artifacts (inspect),
    * and a stopword list can be VALIDATED by its members' low
    * burstiness rather than trusted.
    *
    * With N docs, tf = Σ_d c_d and sq = Σ_d c_d² (absent docs
    * contribute exact zeros through N), the population
    * variance-to-mean is the single exact rational
    * (N·sq − tf²)/(N·tf) — DECIMAL(38,0) numerators, ONE double
    * division rounded 1e-6, (burstiness desc, term) tie-deterministic
    * top-k.
    *
    * Scale shape: one (term, doc) collapse (map-side combinable,
    * fan-out bounded by doc length), one per-term rollup, a broadcast
    * one-row N, TakeOrdered finish. */
  def termBurstiness(docs: DataFrame, idCol: String, textCol: String,
                     minCount: Long = 50, topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1, "need minCount >= 1 and topK >= 1")
    val base = Par.spread(docs.select(sf.col(idCol), sf.col(textCol)))
      .filter(sf.col(textCol).isNotNull)
      .select(sf.col(idCol).as("__doc"),
        gf.wsTokens(sf.lower(sf.col(textCol))).as("__t"))
      .localCheckpoint(true) // N + the term collapse read it
    val nT = base.agg(sf.count(sf.lit(1)).as("__n"))
    val perTerm = base
      .select(sf.col("__doc"), sf.explode(sf.col("__t")).as("__w"))
      .groupBy("__w", "__doc").agg(sf.count(sf.lit(1)).as("__c"))
      .groupBy("__w")
      .agg(sf.count(sf.lit(1)).as("df"), sf.sum("__c").cast("long").as("tf"),
        sf.sum(dec(sf.col("__c")) * dec(sf.col("__c"))).as("__sq"))
      .filter(sf.col("tf") >= minCount)
    perTerm.crossJoin(sf.broadcast(nT))
      .select(sf.col("__w").as("term"), sf.col("df"), sf.col("tf"),
        gf.roundAt((dec(sf.col("__n")) * sf.col("__sq") -
          dec(sf.col("tf")) * dec(sf.col("tf"))).cast("double") /
          (dec(sf.col("__n")) * dec(sf.col("tf"))).cast("double"), 6)
          .as("burstiness"))
      .orderBy(sf.col("burstiness").desc, sf.col("term"))
      .limit(topK)
  }

  /** Capture–recapture corpus-size estimate (Lincoln–Petersen, with
    * the Chapman 1951 small-sample correction) from two overlapping
    * "captures" of the same underlying population — the crawl-planning
    * twin of [[chao1]]: Chao1 asks "how much vocabulary is left" from
    * ONE sample's rare-item counts; this asks "how big is the true
    * document population" from TWO crawls' overlap (two crawl
    * snapshots, two feeds, crawl vs sitemap), THE standard readout for
    * "is another crawl worth it" (N̂ close to n₁+n₂−m says the crawls
    * already saw nearly everything). Estimators:
    *
    *   Lincoln–Petersen N̂ = n₁n₂/m (undefined at m = 0 → NULL)
    *   Chapman N̂ = (n₁+1)(n₂+1)/(m+1) − 1 (always defined, less biased)
    *
    * plus the overlap rates m/n₁, m/n₂ (each crawl's estimated
    * coverage of the other). Independence of captures is the model's
    * assumption — correlated crawls bias N̂ low; that caveat is the
    * operator's documentation, not a determinism concern.
    *
    * Determinism: n₁, n₂, m are exact distinct-key counts; estimates
    * are single pinned double assemblies of DECIMAL(38,0) products
    * (n₁n₂ squares the corpus), rounded 1e-4.
    *
    * Scale shape: two map-side-combinable distinct collapses + ONE
    * key equi join for the overlap + three one-row frames assembled
    * by broadcast cross joins. No windows, no driver collects. */
  def captureRecapture(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    val da = a.filter(sf.col(keyCol).isNotNull)
      .select(sf.col(keyCol).as("__k")).distinct().localCheckpoint(true)
    val db = b.filter(sf.col(keyCol).isNotNull)
      .select(sf.col(keyCol).as("__k")).distinct().localCheckpoint(true)
    val c1 = da.agg(sf.count(sf.lit(1)).as("n1"))
    val c2 = db.agg(sf.count(sf.lit(1)).as("n2"))
    val cm = da.join(db, "__k").agg(sf.count(sf.lit(1)).as("m"))
    c1.crossJoin(sf.broadcast(c2)).crossJoin(sf.broadcast(cm))
      .select({
        val n1 = sf.col("n1"); val n2 = sf.col("n2"); val m = sf.col("m")
        Seq(n1, n2, m.as("overlap"),
          sf.when(m > 0, gf.roundAt(
            (dec(n1) * dec(n2)).cast("double") / m.cast("double"), 4))
            .as("lincoln_petersen"),
          gf.roundAt((dec(n1 + 1) * dec(n2 + 1)).cast("double") /
            (m + 1).cast("double") - 1.0, 4).as("chapman"),
          sf.when(n1 > 0, gf.roundAt(m.cast("double") / n1.cast("double"), 6))
            .as("overlap_rate_a"),
          sf.when(n2 > 0, gf.roundAt(m.cast("double") / n2.cast("double"), 6))
            .as("overlap_rate_b"))
      }: _*)
  }
}
