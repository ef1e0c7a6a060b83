package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => sf}
import graft.{functions => gf}
import graft.functions.dec

/** Deduplication for large text corpora.
  *
  * Scale notes:
  *  - `exact` is a single hash-groupBy shuffle keyed by content hash —
  *    partial aggregation collapses duplicates map-side, so the shuffle
  *    carries ~one row per *distinct* document.
  *  - `minHashLsh` runs in three stages, each duplicate-proof:
  *    (1) EXACT COLLAPSE — shingle sets are hashed once per doc
  *    (fused zero-allocation kernel) and identical sets grouped, so
  *    every signature/bucket/verification cost is paid once per
  *    DISTINCT set, not per document; (2) banded LSH over group
  *    representatives — the only shuffle is the bucket self-join keyed
  *    by (band, bandHash), candidates are emitted exactly once via the
  *    first-witness test, thinned by a size-ratio prefilter, and
  *    exact-verified with an early-abandoning merge scan; shingle
  *    arrays are NOT carried through the band explode; (3) OUTPUT
  *    EXPANSION back to member pairs (identical sets share their
  *    Jaccard; intra-group pairs are J=1.0 by construction) — strictly
  *    output-proportional. Degenerate buckets can be capped via
  *    `maxBucketSize` (0 = unlimited; capped buckets trade recall for
  *    bounded skew, log-noted for audit).
  *  - `nearDupClusters` runs connected components on the contracted
  *    REPRESENTATIVE graph (star contraction + driver-side union-find
  *    finish once the contracted edge set is tiny) and lets members
  *    inherit their group's component.
  *  - Operators persist their shared intermediates; callers running
  *    many dedup jobs in one session should `spark.catalog.clearCache()`
  *    between unrelated corpora.
  */
object Dedup {

  /** Vocabulary ceiling for the bitmask verification specialization in
    * [[containmentPairs]]: up to this many distinct tokens, sets encode
    * as (cap/64)-long bitmasks and candidate verification is one fused
    * popcount kernel call — collected vocab is cap longs, plan-literal
    * maps are 2·cap entries. 256 covers degenerate template corpora
    * (where candidate volume explodes and the mask matters most) while
    * keeping the literal maps trivial; real Zipfian vocabularies blow
    * far past any cap and take the array path, where df-ordered
    * prefixes keep candidates rare instead. */
  val MaskVocabCap = 256


  /** Exact dedup by content hash: one representative (min id) per
    * distinct key, with the duplicate count. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(sf.md5(sf.concat_ws("\u0000", keyCols.map(sf.col): _*)).as("content_key"))
      .agg(sf.min(sf.col(idCol)).as("rep_id"), sf.count(sf.lit(1)).as("n_copies"))
      .select("rep_id", "n_copies")
      .orderBy("rep_id")

  /** All-pairs exact word-set Jaccard over a (small/filtered) document
    * set: the correctness baseline for the LSH path. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleWidth: Int = 1): DataFrame = {
    val base = docs.select(
      sf.col(idCol).cast("long").as("id"),
      gf.wordShingles(sf.col(textCol), shingleWidth).as("sh"))
    val a = base.select(sf.col("id").as("a_id"), sf.col("sh").as("sh_a"))
    val b = base.select(sf.col("id").as("b_id"), sf.col("sh").as("sh_b"))
    a.join(b, sf.col("a_id") < sf.col("b_id"))
      .select(sf.col("a_id"), sf.col("b_id"),
        gf.roundAt(gf.jaccard(sf.col("sh_a"), sf.col("sh_b")), 4).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** All-pairs character-n-gram Jaccard over a (small/filtered) set —
    * the n>1 shingle variant of `ngramJaccardPairs`. */
  def charNgramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3): DataFrame = {
    val base = docs.select(
      sf.col(idCol).cast("long").as("id"),
      sf.array_distinct(gf.charNgrams(sf.col(textCol), n)).as("sh"))
    val a = base.select(sf.col("id").as("a_id"), sf.col("sh").as("sh_a"))
    val b = base.select(sf.col("id").as("b_id"), sf.col("sh").as("sh_b"))
    a.join(b, sf.col("a_id") < sf.col("b_id"))
      .select(sf.col("a_id"), sf.col("b_id"),
        gf.roundAt(gf.jaccard(sf.col("sh_a"), sf.col("sh_b")), 4).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** EXACT Jaccard >= t self-join via rarity-ordered prefix filtering
    * (the AllPairs/PPJoin family: Bayardo et al. WWW'07; Vernica,
    * Carey & Li SIGMOD'10 for the distributed formulation) — the
    * zero-miss twin of [[minHashLsh]]: no banding probability, every
    * qualifying pair is guaranteed out, no signature tuning.
    *
    * The filter: order the token universe rarest-first (ascending
    * document frequency, ties by token hash). A doc of size s only
    * emits its first s - ceil(t*s) + 1 ordered tokens ("prefix") into
    * the join: two sets with J >= t MUST share a prefix token under a
    * common total order — if all shared tokens sat in A's suffix,
    * |A ∩ B| <= ceil(t*|A|) - 1 < t*|A| <= |A ∩ B|. So the candidate
    * join is an EQUI join on the prefix token, never all-pairs, and
    * rarest-first makes those join keys precisely the low-df tokens
    * (a stop word never lands in a prefix unless t is tiny).
    *
    * Funnel: size-ratio filter (exact integer arithmetic) ->
    * first-witness emission (a pair sharing several prefix tokens
    * emits only at the earliest one — array_intersect on the
    * rarity-ordered prefix arrays, no dedup shuffle) ->
    * early-abandoning merge-scan verification joined back from the
    * per-doc sorted-hash table. Empty token sets never pair (callers
    * wanting the J(∅,∅)=1 convention handle empties separately).
    *
    * Scale shape: every shuffle is keyed (token df, per-doc regroup,
    * prefix-token join, id-keyed verify joins); prefix arrays are the
    * only payload riding the candidate join, ~(1-t)*s + 1 longs each.
    * At 100 TB the df table is vocabulary-sized (Zipf: far smaller
    * than the corpus) and candidate volume is governed by the rarity
    * ordering — the same reason AllPairs beats quadratic at web scale.
    *
    * Adaptive small-universe path: when the corpus vocabulary fits in
    * 64 distinct tokens (measured by a vocabulary-sized probe on the
    * df table), prefix filtering is hopeless — no token is rare, and
    * on this synthetic corpus (31 words, dense ~22-token sets) the
    * filter keeps ~22% of all set pairs. The operator then switches to
    * [[bitmaskRepPairs]]: one 64-bit mask per distinct set, pigeonhole
    * block-join candidates, popcount-exact verification. On natural
    * text (unbounded vocabulary) the prefix join is the standard
    * exact-join scale design and is used unchanged. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.9): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val t10k = math.round(threshold * 10000).toInt
    // Exact-duplicate collapse first (the lshCore design): docs with
    // identical token sets reduce to one representative before any
    // prefix work — production corpora are duplicate-heavy, and every
    // copy would otherwise re-pay df lookups, prefix explosion,
    // candidate enumeration (quadratically!) and verification. Empty
    // sets are excluded by contract before grouping.
    val hashed = Par.spread(docs.select(
        sf.col(idCol).cast("long").as("id"), sf.col(textCol).as("__t")))
      .select(sf.col("id"), gf.hashedWsShingles(sf.col("__t")).as("sh"))
      .filter(sf.size(sf.col("sh")) >= 1)
      .withColumn("setkey", sf.xxhash64(sf.col("sh")))
      .persist()
    val base = hashed.groupBy("setkey")
      .agg(sf.min("id").as("id"), sf.count(sf.lit(1)).as("cnt"),
        sf.first("sh").as("sh"))
      .persist()
    val docTok = base.select(sf.col("id"), sf.size(sf.col("sh")).as("sz"),
      sf.explode(sf.col("sh")).as("tok"))
    val dfc = docTok.groupBy("tok").agg(sf.count(sf.lit(1)).as("df"))
    // Universe probe: dfc is vocabulary-sized (needed by both paths
    // anyway); limit(65) lets the count job stop as soon as a 65th
    // distinct token exists, so the probe is O(vocab) not O(corpus).
    val repPairs =
      if (dfc.limit(65).count() <= 64L) bitmaskRepPairs(base, dfc, t10k)
      else prefixRepPairs(base, docTok, dfc, t10k, threshold)
    // Output-proportional expansion back to member pairs (identical
    // sets ⇒ identical Jaccard); within-group pairs are exact
    // duplicates, J = 1.0 by construction.
    val members = hashed.select("setkey", "id")
    val cross = repPairs
      .join(members.select(sf.col("setkey").as("sk_a"), sf.col("id").as("ia")), "sk_a")
      .join(members.select(sf.col("setkey").as("sk_b"), sf.col("id").as("ib")), "sk_b")
      .select(sf.least(sf.col("ia"), sf.col("ib")).as("a_id"),
        sf.greatest(sf.col("ia"), sf.col("ib")).as("b_id"), sf.col("jaccard"))
    val dupSets = base.filter(sf.col("cnt") > 1).select("setkey")
    val m2 = members.join(dupSets, Seq("setkey"), "left_semi")
    val intra = m2.alias("x").join(m2.alias("y"),
        sf.col("x.setkey") === sf.col("y.setkey") && sf.col("x.id") < sf.col("y.id"))
      .select(sf.col("x.id").as("a_id"), sf.col("y.id").as("b_id"),
        sf.lit(1.0).as("jaccard"))
    cross.union(intra)
      .select(sf.col("a_id"), sf.col("b_id"),
        gf.roundAt(sf.col("jaccard"), 4).as("jaccard"))
      .localCheckpoint(true) // the range sort below samples its child
      .orderBy("a_id", "b_id")
  }

  /** The generic AllPairs/PPJoin funnel over representative sets (see
    * [[prefixJaccardPairs]]): rarity-ordered prefixes, asymmetric
    * index/probe roles, positional bounds, first-witness emission,
    * early-abandoning merge-scan verification. Returns one
    * (sk_a, sk_b, jaccard) row per qualifying distinct-set pair. */
  private def prefixRepPairs(base: DataFrame, docTok: DataFrame, dfc: DataFrame,
                             t10k: Int, threshold: Double): DataFrame = {
    // ceil(t*sz) in exact integer arithmetic — double mult rounds
    // unpredictably at the boundary (sz*t10k <= ~1e10: exact in
    // double; the floor-of-division trick is safe because the true
    // quotient's fractional part is always >= 1/denominator away from
    // the next integer, far beyond one ulp)
    val den = 10000L + t10k
    val needP = sf.floor((sf.col("sz") * t10k + 9999L) / 10000.0)
    // the SHORTER index prefix (PPJoin): a qualifying pair's smaller
    // side only needs sz - ceil(2t/(1+t)*sz) + 1 leading tokens —
    // J >= t with sz_probe >= sz_idx gives inter >= 2t/(1+t)*sz_idx,
    // so the smallest common token sits inside this prefix
    val needI = sf.floor((sf.col("sz") * (2L * t10k) + (den - 1L)) / den.toDouble)
    val pfx = docTok.join(dfc, "tok")
      .groupBy("id", "sz")
      .agg(sf.sort_array(
        sf.collect_list(sf.struct(sf.col("df"), sf.col("tok")))).as("ord"))
      .select(sf.col("id"), sf.col("sz"),
        sf.transform(
          sf.slice(sf.col("ord"), sf.lit(1), (sf.col("sz") - needP + 1).cast("int")),
          x => x.getField("tok")).as("pfx_p"))
      // the index prefix is a PREFIX of the probe prefix (both are
      // heads of the same rarity-ordered list)
      .withColumn("pfx_i",
        sf.slice(sf.col("pfx_p"), sf.lit(1), (sf.col("sz") - needI + 1).cast("int")))
      // materialize: the probe and index explodes are DIFFERENT
      // projections, so unlike the former symmetric self-join the
      // planner cannot reuse one exchange — without this the df-join +
      // per-doc sort would run twice
      .localCheckpoint(true)
    // Asymmetric candidate join: every distinct set is INDEXED under
    // its short prefix and PROBES with its long prefix; the index role
    // goes to the pair's smaller (sz, id) side — a unique assignment,
    // so each pair meets in exactly one role and the id order is
    // restored at the end with least/greatest. Both prefix lists share
    // ONE global (df, tok) order, which is what makes the first-
    // witness and positional bounds sound: any common token earlier
    // than the witness would sit inside BOTH emitted prefixes and
    // contradict witness-minimality.
    val eProbe = pfx.select(sf.col("id").as("id_p"), sf.col("sz").as("sz_p"),
      sf.col("pfx_p"), sf.posexplode(sf.col("pfx_p")).as(Seq("pos_p", "tok")))
    val eIdx = pfx.select(sf.col("id").as("id_i"), sf.col("sz").as("sz_i"),
      sf.col("pfx_i"), sf.posexplode(sf.col("pfx_i")).as(Seq("pos_i", "tok")))
    // J >= t  <=>  inter*(1+t) >= t*(sz_p+sz_i): the required overlap,
    // all in exact integer arithmetic (PPJoin's positional filters)
    val interReq10k = sf.lit(t10k.toLong) * (sf.col("sz_p") + sf.col("sz_i"))
    val afterP = sf.col("sz_p") - sf.col("pos_p") - 1
    val afterI = sf.col("sz_i") - sf.col("pos_i") - 1
    val cands = eProbe.join(eIdx, Seq("tok"))
      // index = smaller (sz, id): unique role per pair
      .filter(sf.col("sz_i") < sf.col("sz_p") ||
        (sf.col("sz_i") === sf.col("sz_p") && sf.col("id_i") < sf.col("id_p")))
      // J <= min/max of the sizes, so idx*10^4 >= probe*t10k is necessary
      .filter(sf.col("sz_i") * 10000L >= sf.col("sz_p").cast("long") * t10k)
      // loose positional bound, valid for ANY shared token at 0-based
      // (pos_p, pos_i): common tokens before it <= min(pos_p, pos_i),
      // after it <= min(remaining suffix lengths). A few int ops per
      // collision row, BEFORE the allocating intersect test.
      .filter((sf.least(sf.col("pos_p"), sf.col("pos_i")) + 1L +
        sf.least(afterP, afterI)) * den >= interReq10k)
      // first-witness: emit only at the earliest shared emitted token
      // (array_intersect preserves the first argument's rarity order)
      .filter(sf.col("tok") === sf.element_at(
        sf.array_intersect(sf.col("pfx_i"), sf.col("pfx_p")), 1))
      // tight positional bound: at the FIRST shared token no common
      // token precedes it in either order, so inter <= 1 + the
      // smaller remaining suffix
      .filter((sf.lit(1L) + sf.least(afterP, afterI)) * den >= interReq10k)
      .select(sf.least(sf.col("id_p"), sf.col("id_i")).as("a_id"),
        sf.greatest(sf.col("id_p"), sf.col("id_i")).as("b_id"))
    // Guard band below the kernel threshold (house convention, see
    // lshCore): the abandon test's two double products round
    // independently, and a pair at EXACTLY j = t can land on opposite
    // sides of the grid (27*(1+0.9) rounds below 57*0.9) — the final
    // raw-value filter is the authoritative >= t test.
    cands
      .join(base.select(sf.col("id").as("a_id"), sf.col("setkey").as("sk_a"),
        sf.col("sh").as("sh_a")), "a_id")
      .join(base.select(sf.col("id").as("b_id"), sf.col("setkey").as("sk_b"),
        sf.col("sh").as("sh_b")), "b_id")
      .withColumn("jaccard",
        gf.jaccardSortedLongGeq(sf.col("sh_a"), sf.col("sh_b"),
          threshold - 0.00005))
      .filter(sf.col("jaccard") >= threshold)
      .select("sk_a", "sk_b", "jaccard")
  }

  /** Small-universe specialization of the exact Jaccard self-join: when
    * the token vocabulary fits in 64 distinct values (label alphabets,
    * tag sets, enum-coded features — and this synthetic corpus's
    * 31-word vocabulary, where NO token is rare and prefix filtering
    * degenerates to ~22% of all pairs), every distinct token set is ONE
    * 64-bit mask and Jaccard is two popcounts:
    * J = popcount(a&b) / popcount(a|b) — evaluated in exact integer
    * arithmetic, no doubles, no guard band.
    *
    * Candidate generation is the pigeonhole block join (the PassJoin /
    * partition-based family, Li et al. VLDB'12): a qualifying pair has
    * hamming distance |AΔB| = (1-J)·|A∪B| <= (1-t)·V, so with
    * k = floor((1-t)·V)+1 DISJOINT blocks covering the V used bits, at
    * least one block is bit-identical. Each mask emits k (block,
    * blockBits) keys; candidates meet in a keyed equi join — never a
    * cartesian product — and the first-witness test (emit only at the
    * EARLIEST agreeing block, checked directly on the carried masks)
    * makes emission exactly-once without a dedup shuffle. Bits are
    * assigned rarest-token-first ROUND-ROBIN across blocks so each
    * block mixes rare and common tokens — block values spread instead
    * of collapsing onto the all-common-words pattern, which is what
    * keeps bucket sizes (and the per-bucket quadratic meet cost)
    * bounded. The <= 64-row vocabulary collected to the driver is a
    * bounded constant, same contract as a literal seed.
    *
    * Scale shape: two vocabulary-sized jobs (probe + collect), one map
    * over distinct sets to build masks (an 8-byte payload replaces the
    * shingle array), a k-fold explode, and one keyed self-join whose
    * cost is sum of bucket^2 cheap long ops — at 100 TB the mask table
    * is distinct-set-sized and every shuffle stays keyed. Degenerate
    * buckets could recurse on the remaining bits; not needed at the
    * bucket sizes round-robin assignment produces. */
  private def bitmaskRepPairs(base: DataFrame, dfc: DataFrame, t10k: Int): DataFrame = {
    // rarest-first bit assignment (ties by token hash): bit i = rank i
    val vocab = dfc.orderBy("df", "tok").select("tok")
      .collect().map(_.getLong(0))
    val v = vocab.length
    require(v >= 1 && v <= 64, s"bitmask path needs 1..64 tokens, got $v")
    // ham(A,B) = (1-J)|A∪B| <= (1-t)·V for qualifying pairs (exact
    // integer floor); dmax differing bits cannot hit all k > dmax blocks
    val dmax = (v.toLong * (10000L - t10k) / 10000L).toInt
    val k = math.min(dmax + 1, v)
    val blockMasks = Array.tabulate(k) { j =>
      (j until v by k).foldLeft(0L)((m, i) => m | (1L << i))
    }
    val bitMaskOf = sf.map(vocab.zipWithIndex.flatMap { case (tok, i) =>
      Seq(sf.lit(tok), sf.lit(1L << i)) }: _*)
    val masked = base.select(sf.col("setkey"),
      sf.aggregate(sf.col("sh"), sf.lit(0L),
        (acc, x) => acc.bitwiseOR(sf.element_at(bitMaskOf, x))).as("mask"))
    val blocks = masked.select(sf.col("setkey"), sf.col("mask"),
      sf.posexplode(sf.array(blockMasks.map(bm =>
        sf.col("mask").bitwiseAND(sf.lit(bm))): _*)).as(Seq("blk", "bb")))
    val lhs = blocks.select(sf.col("setkey").as("sk_a"), sf.col("mask").as("m_a"),
      sf.col("blk"), sf.col("bb"))
    val rhs = blocks.select(sf.col("setkey").as("sk_b"), sf.col("mask").as("m_b"),
      sf.col("blk"), sf.col("bb"))
    val xorM = sf.col("m_a").bitwiseXOR(sf.col("m_b"))
    // first agreeing block, computed on the masks themselves — the
    // witness carries no band arrays
    val firstAgree = (k - 1 to 0 by -1).foldLeft(sf.lit(k): org.apache.spark.sql.Column) {
      (acc, j) => sf.when(xorM.bitwiseAND(sf.lit(blockMasks(j))) === 0L, sf.lit(j))
        .otherwise(acc)
    }
    val inter = sf.bit_count(sf.col("m_a").bitwiseAND(sf.col("m_b"))).cast("long")
    val uni = sf.bit_count(sf.col("m_a").bitwiseOR(sf.col("m_b"))).cast("long")
    lhs.join(rhs, Seq("blk", "bb"))
      .filter(sf.col("sk_a") < sf.col("sk_b"))
      .filter(sf.col("blk") === firstAgree)
      // the authoritative >= t test, exact in integers
      .filter(inter * 10000L >= uni * t10k)
      .select(sf.col("sk_a"), sf.col("sk_b"),
        gf.roundAt(inter.cast("double") / uni.cast("double"), 4).as("jaccard"))
  }

  /** DIRECTED containment self-join: pairs (a, b) with
    * C(A, B) = |A ∩ B| / |A| >= `threshold` over word token sets —
    * the asymmetric twin of [[prefixJaccardPairs]]. Jaccard misses
    * subset relations between documents of very different sizes (a
    * quote inside a long article has tiny Jaccard but containment 1);
    * this is the wire-reprint / quotation / excerpt detector. Default
    * threshold 1.0 = exact subset-or-equal detection.
    *
    * Exact, via the inverted-index prefix filter (SSJoin family): order
    * the token universe rarest-first; a probe set A with C >= t must
    * share one of its first floor((1-t)|A|)+1 rarest tokens with B
    * (if ALL of them missed, |A \ B| > (1-t)|A|). At t = 1.0 the probe
    * prefix is a SINGLE token — A's rarest — so every qualifying pair
    * meets exactly once and no witness dedup is needed at all; below
    * 1.0 the first-witness test (earliest prefix token present in B)
    * restores exactly-once emission. The index side posts ALL its
    * tokens (containment has no size-ratio bound on B — a superset can
    * be arbitrarily large), which is the published exact design: the
    * index is the corpus inverted index, df-ordered.
    *
    * Verification is |A ∩ B| via `array_intersect` on the hashed sets,
    * in exact integer arithmetic against t·|A|. Identical sets are
    * exact-collapsed first (contained both ways, C = 1); expansion
    * back to member docs emits DIRECTED pairs, a_id != b_id.
    *
    * Scale shape: every shuffle is keyed (df, per-doc regroup, token
    * join, member expansion). The token join is df-bounded: at t = 1.0
    * each probe posts ONE token, so candidate volume is
    * sum_A df(rarest(A)) — rarity ordering sends probes to the
    * LOW-df postings. Degenerate small vocabularies make even the
    * rarest token common (this corpus: every posting list is ~70% of
    * the corpus); there a <=64-bit mask path (candidates via
    * block-subset enumeration) would apply, as in the Jaccard twin —
    * the verification here already collapses to two popcount-cheap
    * array ops at that vocabulary size. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 1.0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val t10k = math.round(threshold * 10000).toInt
    val hashed = Par.spread(docs.select(
        sf.col(idCol).cast("long").as("id"), sf.col(textCol).as("__t")))
      .select(sf.col("id"), gf.hashedWsShingles(sf.col("__t")).as("sh"))
      .filter(sf.size(sf.col("sh")) >= 1)
      .withColumn("setkey", sf.xxhash64(sf.col("sh")))
      .persist()
    val base = hashed.groupBy("setkey")
      .agg(sf.min("id").as("id"), sf.count(sf.lit(1)).as("cnt"),
        sf.first("sh").as("sh"))
      .persist()
    val docTok = base.select(sf.col("setkey"), sf.size(sf.col("sh")).as("sz"),
      sf.explode(sf.col("sh")).as("tok"))
    val dfc = docTok.groupBy("tok").agg(sf.count(sf.lit(1)).as("df"))
    // probe prefix: first floor((1-t)|A|)+1 tokens, rarest-first.
    // r15 NOTE (measured, kept as-is): at t = 1.0 this builds a sorted
    // per-doc array only to take its minimum, but BOTH "cheaper"
    // rewrites measured SLOWER at sf1.0 (r14 collect_list 5.15 s @
    // local[32]): min(struct(df, tok)) falls to SortAggregate and sorts
    // the whole token explosion (+139 % in the warmed bench), and a
    // hash-aggregable packed DECIMAL(38,0) min pays a >38-digit checked
    // decimal multiply per token row (9.8 s single-run). The
    // ObjectHashAggregate collect_list never sorts the stream and its
    // partial aggregation already bounds the shuffle.
    val plen = (sf.col("sz") * (10000L - t10k)).cast("long") / 10000L + 1L
    val probe = docTok.join(dfc, "tok")
      .groupBy("setkey", "sz")
      .agg(sf.sort_array(
        sf.collect_list(sf.struct(sf.col("df"), sf.col("tok")))).as("ord"))
      .select(sf.col("setkey").as("sk_a"), sf.col("sz").as("sz_a"),
        sf.transform(sf.slice(sf.col("ord"), sf.lit(1), plen.cast("int")),
          x => x.getField("tok")).as("pfx_a"))
    val probeTok = probe.select(sf.col("sk_a"), sf.col("sz_a"), sf.col("pfx_a"),
      sf.explode(sf.col("pfx_a")).as("tok"))
    val index = docTok.select(sf.col("setkey").as("sk_b"), sf.col("tok"))
    val cands = probeTok.join(index, Seq("tok"))
      .filter(sf.col("sk_a") =!= sf.col("sk_b"))
    // at t = 1.0 the prefix is one token — emission is unique by
    // construction and the allocating witness test is skipped
    val witnessed =
      if (t10k == 10000) cands
      else cands
        .join(base.select(sf.col("setkey").as("sk_b"), sf.col("sh").as("sh_w")), "sk_b")
        .filter(sf.col("tok") === sf.element_at(
          sf.array_intersect(sf.col("pfx_a"), sf.col("sh_w")), 1))
        .drop("sh_w")
    // Verification: |A ∩ B| against t·|A|. On a BOUNDED token universe
    // (probed on the df table, the prefixJaccardPairs design) sets are
    // vocabulary bitmasks and the intersect is one fused popcount per
    // pair — the degenerate-vocabulary corpus pushes millions of
    // candidates through this filter, and the mask path removes both
    // the carried shingle arrays and the allocating array_intersect.
    // r13 widened the specialization from one long (64 tokens) to a
    // multi-word mask (<= MaskVocabCap tokens, W longs): the sf1.0
    // scale checkpoint measured the 64-token cliff at 16x — a corpus
    // whose vocabulary grows past 64 fell back to array_intersect on
    // the same millions of candidates (q127: 65.6s -> mask path).
    val nVocab = dfc.limit(MaskVocabCap + 1).count()
    val verified =
      if (nVocab <= MaskVocabCap) {
        val vocab = dfc.orderBy("df", "tok").select("tok")
          .collect().map(_.getLong(0))
        val words = ((vocab.length + 63) / 64).max(1)
        val slotOf = sf.map(vocab.zipWithIndex.flatMap { case (tok, i) =>
          Seq(sf.lit(tok), sf.lit(i / 64)) }: _*)
        val bitOf = sf.map(vocab.zipWithIndex.flatMap { case (tok, i) =>
          Seq(sf.lit(tok), sf.lit(1L << (i % 64))) }: _*)
        val maskCol = sf.transform(
          sf.sequence(sf.lit(0), sf.lit(words - 1)),
          w => sf.aggregate(sf.col("sh"), sf.lit(0L), (acc, x) =>
            sf.when(sf.element_at(slotOf, x) === w,
              acc.bitwiseOR(sf.element_at(bitOf, x))).otherwise(acc)))
        val masked = base.select(sf.col("setkey"), maskCol.as("mask"))
        val inter = gf.maskAndPopcount(sf.col("__ma"), sf.col("__mb"))
        witnessed
          .join(masked.select(sf.col("setkey").as("sk_a"), sf.col("mask").as("__ma")), "sk_a")
          .join(masked.select(sf.col("setkey").as("sk_b"), sf.col("mask").as("__mb")), "sk_b")
          .filter(inter * 10000L >= sf.col("sz_a").cast("long") * t10k)
          .select(sf.col("sk_a"), sf.col("sk_b"),
            gf.roundAt(inter.cast("double") / sf.col("sz_a").cast("double"), 4)
              .as("containment"))
      } else witnessed
        .join(base.select(sf.col("setkey").as("sk_a"), sf.col("sh").as("sh_a")), "sk_a")
        .join(base.select(sf.col("setkey").as("sk_b"), sf.col("sh").as("sh_b")), "sk_b")
        .withColumn("__i", sf.size(sf.array_intersect(sf.col("sh_a"), sf.col("sh_b"))).cast("long"))
        .filter(sf.col("__i") * 10000L >= sf.col("sz_a").cast("long") * t10k)
        .select(sf.col("sk_a"), sf.col("sk_b"),
          gf.roundAt(sf.col("__i").cast("double") / sf.col("sz_a").cast("double"), 4)
            .as("containment"))
    val members = hashed.select("setkey", "id")
    val cross = verified
      .join(members.select(sf.col("setkey").as("sk_a"), sf.col("id").as("a_id")), "sk_a")
      .join(members.select(sf.col("setkey").as("sk_b"), sf.col("id").as("b_id")), "sk_b")
      .select("a_id", "b_id", "containment")
    // identical sets: contained both ways, every directed member pair
    val dupSets = base.filter(sf.col("cnt") > 1).select("setkey")
    val m2 = members.join(dupSets, Seq("setkey"), "left_semi")
    val intra = m2.alias("x").join(m2.alias("y"),
        sf.col("x.setkey") === sf.col("y.setkey") && sf.col("x.id") =!= sf.col("y.id"))
      .select(sf.col("x.id").as("a_id"), sf.col("y.id").as("b_id"),
        sf.lit(1.0).as("containment"))
    cross.union(intra)
      .localCheckpoint(true) // the range sort below samples its child
      .orderBy("a_id", "b_id")
  }

  /** MinHash + LSH near-duplicate pairs, exact-Jaccard verified.
    * Output: (a_id, b_id, jaccard) for verified jaccard >= threshold.
    *
    * With rowsPerBand=6, numHashes=144 (24 bands), a true pair at
    * j=0.9 is missed with probability (1-0.9⁶)^24 ≈ 1.3e-8 — the output
    * equals the exhaustive answer for practical purposes — while a
    * noise pair at j=0.63 (this corpus's median!) collides in ~1.5
    * bands instead of the ~4 that 16×3 banding yields.
    *
    * Candidate thinning, in order of application cost:
    *  1. size-ratio prefilter — J(A,B) <= min/max of the set sizes, so
    *     min >= t*max is necessary; one long rides each bucket row and
    *     the test is one multiply — no shingles touched.
    *  2. b-bit sketch prefilter — `sketchBits` packed minhash parity
    *     bits per set (Li & König b-bit minwise hashing); the xor+
    *     popcount match count is Binomial(sketchBits, (1+j)/2), and the
    *     cutoff admits a true pair at j=t with P(miss) < 1e-7 while
    *     rejecting the far-below-threshold bulk of band collisions
    *     before they reach verification. sketchBits=0 disables.
    *  3. first-witness test — a pair colliding in several bands is
    *     emitted exactly once, at its first colliding band, with no
    *     dedup shuffle. Measured against pair-dedup (shuffle 16-byte id
    *     pairs, distinct): the witness arrays riding the collision rows
    *     cost less than the distinct's hash aggregation over tens of
    *     millions of id pairs — especially with 32-bit band values
    *     halving the array bytes.
    *  4. exact verification — merge scan over the sorted-xxhash64
    *     shingle sets (primitive longs, not strings), joined from the
    *     (small, usually broadcast) per-doc table. */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
                 threshold: Double = 0.9, numHashes: Int = 144,
                 rowsPerBand: Int = 6, maxBucketSize: Int = 0,
                 sketchBits: Int = 256): DataFrame =
    // Checkpoint before the global sort: orderBy's range partitioner
    // runs a sampling job over its child first, which would otherwise
    // recompute the whole verification pipeline once per pass.
    minHashLshPairs(docs, idCol, textCol, threshold, numHashes,
      rowsPerBand, maxBucketSize, sketchBits).localCheckpoint(true).orderBy("a_id", "b_id")

  /** Internal product of the collapsed LSH pipeline:
    *  - repPairs: verified (a_id, b_id, sk_a, sk_b, jaccard) over group
    *    REPRESENTATIVES (a_id/b_id are the min doc ids of two distinct
    *    shingle-set groups; sk_* their set keys)
    *  - groups:  (setkey, rep, cnt) — one row per distinct shingle set
    *  - members: (setkey, id) — every doc tagged with its set key */
  private[operators] case class LshCore(repPairs: DataFrame, groups: DataFrame,
                                        members: DataFrame)

  /** Exact-collapse + MinHash/LSH over distinct shingle sets. Docs with
    * IDENTICAL shingle sets are collapsed to one representative before
    * any signature work — production corpora are duplicate-heavy, and
    * every copy would otherwise pay signature hashing, bucket explode,
    * candidate enumeration (quadratically!), and verification for an
    * answer the group representative already provides. */
  /** Largest cutoff m0 such that a TRUE pair at exactly j = t is
    * rejected by `matchBits < m0` with probability below eps: the
    * match count is Binomial(nBits, (1+t)/2), so m0 is the largest
    * value whose lower tail P(X < m0) stays under eps. eps = 1e-7
    * keeps the prefilter's miss rate at the same order as the banding
    * scheme's own 1.3e-8 — recall remains 1-ε end to end. */
  private[graft] def sketchCutoff(nBits: Int, t: Double, eps: Double = 1e-7): Int = {
    val p = (1.0 + math.min(t, 0.9999)) / 2.0
    def logComb(n: Int, k: Int): Double = {
      var s = 0.0
      var i = 0
      while (i < k) { s += math.log(n - i) - math.log(i + 1); i += 1 }
      s
    }
    var cdf = 0.0
    var k = 0
    while (k <= nBits) {
      val pmf = math.exp(logComb(nBits, k) + k * math.log(p) + (nBits - k) * math.log1p(-p))
      if (cdf + pmf >= eps) return k
      cdf += pmf
      k += 1
    }
    nBits
  }

  private def lshCore(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int,
                      rowsPerBand: Int, maxBucketSize: Int,
                      sketchBits: Int = 256): LshCore = {
    // Shingle + hash computation is CPU-bound, not IO-bound: spread it
    // across all cores even when the input is a handful of parquet
    // splits. The fused kernel tokenizes + hashes + sorts + dedups in
    // one allocation-free pass over the text bytes.
    val hashed = Par.spread(docs.select(
      sf.col(idCol).cast("long").as("id"), sf.col(textCol).as("__t")))
      .select(sf.col("id"), gf.hashedWsShingles(sf.col("__t")).as("shh"))
      .withColumn("setkey", sf.xxhash64(sf.col("shh")))
      .persist()
    // One persisted frame per distinct set carrying EVERYTHING derived
    // from it (rep, count, shingles, bands, size): signatures are
    // computed inside the post-agg projection, so the whole per-set
    // state materializes in a single pass.
    val sketchCol =
      if (sketchBits > 0) gf.minHashBitSketch(sf.col("shh"), sketchBits)
      else sf.lit(null).cast("array<bigint>")
    val base = hashed.groupBy("setkey")
      .agg(sf.min("id").as("rep"), sf.count(sf.lit(1)).as("cnt"),
        sf.first("shh").as("shh"))
      .select(sf.col("setkey"), sf.col("rep"), sf.col("cnt"), sf.col("shh"),
        gf.minHashBandsFromHashes(sf.col("shh"), numHashes, rowsPerBand).as("bands"),
        sf.size(sf.col("shh")).as("sz"), sketchCol.as("skb"))
      .persist()
    // (id, bands, sz, skb, band, bandHash) per band. The full band
    // array (32-bit values) rides along for the first-witness test; sz
    // for the size-ratio prefilter; skb (sketchBits/8 bytes) for the
    // b-bit estimate prefilter. Not persisted: the explode is a trivial
    // map over the cached per-set frame, cheaper to recompute per join
    // side than to materialize a third copy.
    var buckets = base.select(sf.col("rep").as("id"), sf.col("bands"), sf.col("sz"),
      sf.col("skb"), sf.posexplode(sf.col("bands")).as(Seq("band", "bh")))
    if (maxBucketSize > 0) {
      val sizes = buckets.groupBy("band", "bh")
        .agg(sf.count(sf.lit(1)).as("bucket_n"))
        .filter(sf.col("bucket_n") <= maxBucketSize)
      buckets = buckets.join(sizes, Seq("band", "bh"), "left_semi")
    }
    val ba = buckets.select(sf.col("band"), sf.col("bh"),
      sf.col("id").as("a_id"), sf.col("bands").as("bands_a"), sf.col("sz").as("sz_a"),
      sf.col("skb").as("skb_a"))
    val bb = buckets.select(sf.col("band").as("band_b"), sf.col("bh").as("bh_b"),
      sf.col("id").as("b_id"), sf.col("bands").as("bands_b"), sf.col("sz").as("sz_b"),
      sf.col("skb").as("skb_b"))
    // shuffle_hash, not sort-merge: the join keys are massively
    // duplicated (that's the point — buckets), so sorting both sides
    // buys nothing and the hashed build side streams collisions out
    // of whole-stage codegen directly.
    var candidateRows = ba.join(bb.hint("shuffle_hash"),
        sf.col("band") === sf.col("band_b") && sf.col("bh") === sf.col("bh_b") &&
          sf.col("a_id") < sf.col("b_id"))
      // multiply, don't divide: zero-size (empty-doc) pairs stay valid
      .filter(sf.least(sf.col("sz_a"), sf.col("sz_b")).cast("double") >=
        sf.greatest(sf.col("sz_a"), sf.col("sz_b")).cast("double") * threshold)
    // Witness first, sketch second — ordered by measured per-row cost.
    // The first-witness test fails in 1-2 int compares for the ~7x
    // multi-band duplicate emissions (sf0.1 funnel: 9.0M size-passed
    // collision rows -> 1.28M first-witness rows), so the costlier
    // xor+popcount sketch runs on the deduplicated pair stream.
    candidateRows = candidateRows
      .filter(gf.prefixAllDiffer(sf.col("bands_a"), sf.col("bands_b"), sf.col("band")))
    // Second-stage precision filter: xor+popcount over the packed
    // sketches estimates J without touching shingle arrays; banding at
    // r=6 is unselective on corpora whose noise-J distribution sits
    // high, and every surviving candidate pays the merge-scan verify.
    // The cutoff is computed from the threshold so a true pair at j=t
    // fails with P < 1e-7 (see sketchCutoff); the below-threshold tail
    // drops here at ~8 machine ops per pair. (The near-threshold mass
    // — j within ~0.05 of t — passes any estimate-based filter by
    // construction and is exactly what the early-abandoning merge scan
    // is for.)
    if (sketchBits > 0)
      candidateRows = candidateRows.filter(
        gf.sketchMatchBits(sf.col("skb_a"), sf.col("skb_b")) >=
          sf.lit(sketchCutoff(sketchBits, threshold)))
    val candidates = candidateRows.select("a_id", "b_id")
    val shA = base.select(sf.col("rep").as("a_id"),
      sf.col("setkey").as("sk_a"), sf.col("shh").as("sh_a"))
    val shB = base.select(sf.col("rep").as("b_id"),
      sf.col("setkey").as("sk_b"), sf.col("shh").as("sh_b"))
    // Early-abandoning verification at threshold minus the 4-decimal
    // rounding margin: any pair whose exact J could still round up to
    // the threshold survives the scan; the -1.0 aborts fail the final
    // rounded filter naturally.
    val repPairs = candidates.join(shA, "a_id").join(shB, "b_id")
      .select(sf.col("a_id"), sf.col("b_id"), sf.col("sk_a"), sf.col("sk_b"),
        gf.roundAt(gf.jaccardSortedLongGeq(sf.col("sh_a"), sf.col("sh_b"),
          threshold - 0.00005), 4).as("jaccard"))
      .filter(sf.col("jaccard") >= threshold)
    LshCore(repPairs, base.select("setkey", "rep", "cnt"),
      hashed.select("setkey", "id"))
  }

  /** `minHashLsh` without the final global sort — for consumers that
    * aggregate the pairs anyway (connected components, dedup filters)
    * the sort is pure waste. Pairs between distinct groups are the
    * verified representative pairs expanded to every member combination
    * (identical sets ⇒ identical Jaccard); pairs within a multi-member
    * group are exact duplicates (J = 1.0 by construction). Both
    * expansions are output-proportional. */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                 threshold: Double = 0.9, numHashes: Int = 144,
                 rowsPerBand: Int = 6, maxBucketSize: Int = 0,
                 sketchBits: Int = 256): DataFrame = {
    val core = lshCore(docs, idCol, textCol, threshold, numHashes,
      rowsPerBand, maxBucketSize, sketchBits)
    val membA = core.members.select(sf.col("setkey").as("sk_a"), sf.col("id").as("ia"))
    val membB = core.members.select(sf.col("setkey").as("sk_b"), sf.col("id").as("ib"))
    val cross = core.repPairs.join(membA, "sk_a").join(membB, "sk_b")
      .select(sf.least(sf.col("ia"), sf.col("ib")).as("a_id"),
        sf.greatest(sf.col("ia"), sf.col("ib")).as("b_id"),
        sf.col("jaccard"))
    val dupSets = core.groups.filter(sf.col("cnt") > 1).select("setkey")
    val m2 = core.members.join(dupSets, Seq("setkey"), "left_semi")
    val intra = m2.alias("x").join(m2.alias("y"),
        sf.col("x.setkey") === sf.col("y.setkey") && sf.col("x.id") < sf.col("y.id"))
      .select(sf.col("x.id").as("a_id"), sf.col("y.id").as("b_id"),
        sf.lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** Dedup-savings report per source — the BUDGET readout of the whole
    * dedup family: before any cluster is actually dropped, how many
    * documents and how much TOKEN MASS would keep-first dedup remove,
    * per source (tokens, not docs, are what a training budget prices —
    * one giant duplicated doc outweighs a hundred small ones). Runs
    * [[nearDupClusters]]' LSH chain verbatim and charges every
    * non-canonical member (cluster label = min doc id, the
    * [[canonicalMembers]] keep-first convention) as removed; docs
    * outside any cluster survive by definition.
    *
    * Determinism: composition over the oracle-checked cluster labels +
    * exact token counts; shares are single pinned divisions 1e-6.
    *
    * Scale shape: the LSH pipeline + one id-keyed left join of the
    * (small) clustered-label table against the doc stream + a
    * combinable source rollup. */
  def dedupSavings(docs: DataFrame, idCol: String, textCol: String,
                   sourceCol: String, threshold: Double = 0.9): DataFrame = {
    val labels = nearDupClusters(docs, idCol, textCol, threshold)
      .select(sf.col("doc_id").as("__id"), sf.col("cluster_id"))
    docs.select(sf.col(idCol).as("__id"), sf.col(sourceCol).as("source"),
        gf.tokenCount(sf.col(textCol)).cast("long").as("__tok"))
      .join(labels, Seq("__id"), "left")
      .select(sf.col("source"), sf.col("__tok"),
        (sf.col("cluster_id").isNotNull &&
          sf.col("cluster_id") =!= sf.col("__id")).cast("long").as("__rm"))
      .groupBy("source")
      .agg(sf.count(sf.lit(1)).as("n_docs"),
        sf.sum("__tok").cast("long").as("n_tokens"),
        sf.sum("__rm").cast("long").as("docs_removed"),
        sf.sum(sf.col("__tok") * sf.col("__rm")).cast("long").as("tokens_removed"))
      .select(sf.col("source"), sf.col("n_docs"), sf.col("n_tokens"),
        sf.col("docs_removed"), sf.col("tokens_removed"),
        gf.roundAt(sf.col("tokens_removed").cast("double") /
          sf.col("n_tokens").cast("double"), 6).as("token_savings_share"))
      .orderBy("source")
  }

  /** Connected components over an undirected pair list (a_id, b_id):
    * label propagation to the minimum reachable id. Converges in
    * O(component diameter) rounds — near-dup clusters are dense and
    * shallow, so a handful of rounds suffices; `maxIter` bounds
    * pathological chains. Each round is one join + one min-aggregation
    * (all shuffles on the id key); nothing is collected to the driver.
    * Output: (id, cluster) where cluster = min id of the component.
    *
    * The two internal scale bounds are overridable so specs can force
    * the general path on small graphs (the bounded-specialization
    * audit: every fast-path bound has a parity proof past the bound):
    * `broadcastCutoff` — label tables under it broadcast into the
    * contraction joins, over it they shuffle-join; `localFinish` —
    * a contracted edge set under it finishes with driver union-find,
    * over it the distributed loop keeps contracting. Both settings
    * produce identical labels, only the plan shape moves. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          broadcastCutoff: Long = 5000000L,
                          localFinish: Long = localFinishEdges): DataFrame = {
    // Iterative star-contraction. Each round labels every node with
    // min(self, neighbors), then CONTRACTS: the next round's edge set is
    // the distinct (label(a), label(b)) pairs with label(a) != label(b).
    // Near-dup graphs are clique-like, so round 1 collapses almost
    // everything and the contracted edge set is orders of magnitude
    // smaller than the input — unlike plain label propagation, which
    // re-joins the FULL edge list every iteration. Worst case is a
    // PATH: one-hop min contraction shortens it by only ~1 node per
    // round (O(diameter) rounds, pinned by the bounded-specialization
    // audit spec — NOT O(log n); the alternating large-star/small-star
    // scheme of Kiveris et al. would give O(log n) and is the upgrade
    // path if a >localFinish contracted graph with large diameter ever
    // appears). In practice the `localFinish` union-find exit absorbs
    // any graph whose round-1 contraction fits the driver, which is
    // why the distributed tail only matters for graphs that are BOTH
    // huge after contraction AND high-diameter.
    //
    // Eager localCheckpoints cut the logical-plan lineage at every loop
    // boundary: without them each round re-embeds the full upstream plan
    // (e.g. the whole LSH pipeline) and the driver drowns in plan
    // analysis long before the data is big.
    val spark = pairs.sparkSession
    var edges = pairs.select(sf.col("a_id").as("src"), sf.col("b_id").as("dst"))
      .localCheckpoint(true)
    // mapping: original id -> current component label (only ever shrinks
    // in label value; row count fixed at the clustered-node count).
    var mapping: DataFrame = null
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val sym = edges.union(edges.select(sf.col("dst").as("src"), sf.col("src").as("dst")))
      val labels = sym.groupBy("src")
        .agg(sf.least(sf.col("src"), sf.min("dst")).as("lbl"))
        .localCheckpoint(true)
      // One count() action sizes the broadcast decision AND materializes
      // the checkpoint. One row per node of the CURRENT (contracted)
      // graph — after round 1 this is one row per component-so-far.
      val n = labels.count()
      def hinted(df: DataFrame) = if (n < broadcastCutoff) sf.broadcast(df) else df
      mapping =
        if (mapping == null) labels.select(sf.col("src").as("id"), sf.col("lbl").as("cluster"))
        else mapping.join(hinted(labels), mapping("cluster") === labels("src"), "left")
          .select(mapping("id"), sf.coalesce(sf.col("lbl"), mapping("cluster")).as("cluster"))
          .localCheckpoint(true)
      // Contract: rewrite each edge to its endpoints' labels; drop
      // intra-component edges; dedup. (min,max) normalization halves the
      // distinct space. The joins are map-side while labels broadcast.
      val la = labels.select(sf.col("src"), sf.col("lbl").as("la"))
      val lb = labels.select(sf.col("src").as("dst"), sf.col("lbl").as("lb"))
      val contracted = sym.join(hinted(la), "src").join(hinted(lb), "dst")
        .filter(sf.col("la") =!= sf.col("lb"))
        .select(sf.least(sf.col("la"), sf.col("lb")).as("src"),
          sf.greatest(sf.col("la"), sf.col("lb")).as("dst"))
        .distinct()
        .localCheckpoint(true)
      val m = contracted.count()
      if (m == 0) done = true
      else if (m <= localFinish) {
        // The contracted graph fits the driver comfortably (bounded by
        // localFinishEdges × 16 bytes): finish with in-memory union-find
        // instead of paying several more rounds of per-job scheduling
        // latency. At any input scale contraction shrinks geometrically,
        // so this is the common exit after round 1-2; the distributed
        // loop above remains the path for genuinely huge label graphs.
        val remap = unionFindLabels(contracted.collect()
          .map(r => (r.getLong(0), r.getLong(1))))
        val remapDf = sf.broadcast(
          spark.createDataFrame(remap.toSeq).toDF("__from", "__to"))
        mapping = mapping.join(remapDf, mapping("cluster") === sf.col("__from"), "left")
          .select(mapping("id"),
            sf.coalesce(sf.col("__to"), mapping("cluster")).as("cluster"))
        done = true
      } else edges = contracted
      i += 1
    }
    // An under-merged labeling is silently WRONG (nodes of one
    // component keep distinct labels) — abort loudly instead, with
    // the two knobs that fix it. Reachable only when maxIter rounds
    // pass with the contracted graph still above localFinish.
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds; the " +
        s"contracted graph is still above localFinish=$localFinish. " +
        "Raise maxIter (high-diameter graph) or localFinish.")
    mapping.select(sf.col("id").as("doc_id"), sf.col("cluster").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Driver-side edge budget below which `connectedComponents` finishes
    * with local union-find (16 bytes/edge -> ~32 MB at the default). */
  private val localFinishEdges = 2000000L

  /** Path-compressing union-find; returns node -> component-min for
    * every node whose final label differs from itself. */
  private def unionFindLabels(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val keys = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    keys.iterator.map(k => k -> find(k)).filter { case (k, v) => k != v }.toMap
  }

  /** Near-dup clustering end-to-end: LSH pairs at `threshold` ->
    * connected components -> cluster id per clustered document.
    *
    * CC runs on the exact-collapsed REPRESENTATIVE graph (orders of
    * magnitude fewer edges than the expanded pair list); members then
    * inherit their group's component. A multi-member group is a
    * component even without cross-group edges (its docs are mutual
    * exact duplicates, J = 1). Component label = min member id: every
    * member id ≥ its group rep, so the min over reps IS the min over
    * members. */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.9): DataFrame =
    nearDupClusterLabels(docs, idCol, textCol, threshold).orderBy("doc_id")

  /** `nearDupClusters` without the final sort — for consumers that only
    * filter or join on the labels (e.g. `dedupCorpus`). */
  private def nearDupClusterLabels(docs: DataFrame, idCol: String, textCol: String,
                                   threshold: Double): DataFrame = {
    val core = lshCore(docs, idCol, textCol, threshold,
      numHashes = 144, rowsPerBand = 6, maxBucketSize = 0)
    val repComp = connectedComponents(core.repPairs.select("a_id", "b_id"))
      .select(sf.col("doc_id").as("rep"), sf.col("cluster_id"))
    val groupLabel = core.groups.join(repComp, Seq("rep"), "left")
      .filter(sf.col("cluster_id").isNotNull || sf.col("cnt") > 1)
      .select(sf.col("setkey"),
        sf.coalesce(sf.col("cluster_id"), sf.col("rep")).as("cluster_id"))
    core.members.join(groupLabel, "setkey")
      .select(sf.col("id").as("doc_id"), sf.col("cluster_id"))
  }

  /** C4-style exact LINE deduplication across the corpus: every line
    * keeps its first occurrence (ordered by (doc id, line index)) and
    * later copies are dropped; documents are rebuilt from their kept
    * lines. Returns (doc_id, n_lines, n_kept, kept_text).
    *
    * Winner selection is a COMBINABLE aggregation — `min(struct(id,
    * idx))` per line hash — not a `row_number` window. Real corpora
    * have hyper-frequent lines (the empty line, boilerplate headers):
    * a window partitioned by line hash ships every occurrence of such
    * a line to a single reducer, while the partial min collapses each
    * mapper's copies to ONE row before the shuffle, so the exchange
    * carries ~one row per distinct line per map task regardless of
    * skew. The winners (one (id, idx) position per distinct line) then
    * semi-join back to the lines on (id, idx) — a near-unique,
    * uniformly distributed key — to rebuild the kept text. */
  def lineDedupKeepFirst(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = docs.select(sf.col(idCol).cast("long").as("id"),
      sf.posexplode(sf.split(sf.col(textCol), "\n", -1)).as(Seq("idx", "line")))
    // md5 key: the winner shuffle carries a fixed-width hash, not line
    // bodies (128 bits — a 64-bit hash could silently fuse two distinct
    // lines at corpus scale).
    val keyed = lines.select(sf.md5(sf.col("line")).as("lk"),
      sf.col("id"), sf.col("idx"))
    val winners = keyed.groupBy("lk")
      .agg(sf.min(sf.struct(sf.col("id"), sf.col("idx"))).as("__w"))
      .select(sf.col("__w.id").as("id"), sf.col("__w.idx").as("idx"))
    val kept = lines.join(winners, Seq("id", "idx"), "left_semi")
    val totals = lines.groupBy("id").agg(sf.count(sf.lit(1)).as("n_lines"))
    val keptAgg = kept.groupBy("id").agg(
      sf.count(sf.lit(1)).as("n_kept"),
      sf.array_join(
        sf.transform(sf.array_sort(sf.collect_list(sf.struct(sf.col("idx"), sf.col("line")))),
          x => x.getField("line")), "\n").as("kept_text"))
    totals.join(keptAgg, Seq("id"), "left")
      .select(sf.col("id").as("doc_id"), sf.col("n_lines"),
        sf.coalesce(sf.col("n_kept"), sf.lit(0L)).as("n_kept"),
        sf.coalesce(sf.col("kept_text"), sf.lit("")).as("kept_text"))
      .orderBy("doc_id")
  }

  /** The end-use of near-dup detection: the deduplicated corpus.
    * Keeps every unclustered document plus one representative (the
    * min id) per near-dup cluster.
    *
    * A pipeline that also needs the cluster labels (audit tables,
    * per-cluster stats) should compute `nearDupClusters` ONCE and pass
    * it via `clusterLabels` — the LSH funnel and connected components
    * are the expensive part, and this reuses them instead of running
    * the funnel a second time. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.9,
                  clusterLabels: Option[DataFrame] = None): DataFrame = {
    val losers = clusterLabels
      .getOrElse(nearDupClusterLabels(docs, idCol, textCol, threshold))
      .filter(sf.col("doc_id") =!= sf.col("cluster_id"))
      .select("doc_id")
    docs.join(losers, docs(idCol) === losers("doc_id"), "left_anti")
  }

  /** Cross-corpus near-duplicate pairs: documents of corpus A within
    * `threshold` Jaccard of any document of corpus B — the training-
    * corpus-vs-heldout overlap scan (drop A-side matches before
    * training, or audit leakage). Same banded-LSH machinery as the
    * self-join path — per-side signatures, (band, bandHash) equi join
    * (shuffle_hash, never cartesian), size-ratio + b-bit-sketch
    * prefilters, first-witness single emission, early-abandoning exact
    * verification — but across two tables and without the a<b
    * self-pair constraint. Duplicate-heavy corpora should be collapsed
    * with `exact` first (the self-join path does this internally; here
    * each side is assumed mostly-distinct, the common shape for
    * corpus-vs-benchmark scans where B is small).
    * Output: (a_id, b_id, jaccard), one row per cross pair. */
  def crossCorpusNearDup(corpusA: DataFrame, corpusB: DataFrame,
                         idCol: String, textCol: String,
                         threshold: Double = 0.9, numHashes: Int = 144,
                         rowsPerBand: Int = 6, sketchBits: Int = 256): DataFrame = {
    def prep(df: DataFrame, tag: String): DataFrame = {
      val sketchCol =
        if (sketchBits > 0) gf.minHashBitSketch(sf.col("sh"), sketchBits)
        else sf.lit(null).cast("array<bigint>")
      Par.spread(df.select(sf.col(idCol).cast("long").as(s"${tag}_id"),
          sf.col(textCol).as("__t")))
        .select(sf.col(s"${tag}_id"), gf.hashedWsShingles(sf.col("__t")).as("sh"))
        .select(sf.col(s"${tag}_id"), sf.col("sh"),
          gf.minHashBandsFromHashes(sf.col("sh"), numHashes, rowsPerBand).as("bands"),
          sf.size(sf.col("sh")).as("sz"), sketchCol.as("skb"))
        .persist()
    }
    val a = prep(corpusA, "a")
    val b = prep(corpusB, "b")
    def explodeSide(df: DataFrame, tag: String): DataFrame =
      df.select(sf.col(s"${tag}_id"), sf.col("bands").as(s"bands_$tag"),
        sf.col("sz").as(s"sz_$tag"), sf.col("skb").as(s"skb_$tag"),
        sf.posexplode(sf.col("bands")).as(Seq(s"band_$tag", s"bh_$tag")))
    var cand = explodeSide(a, "a").join(explodeSide(b, "b").hint("shuffle_hash"),
        sf.col("band_a") === sf.col("band_b") && sf.col("bh_a") === sf.col("bh_b"))
      .filter(sf.least(sf.col("sz_a"), sf.col("sz_b")).cast("double") >=
        sf.greatest(sf.col("sz_a"), sf.col("sz_b")).cast("double") * threshold)
    cand = cand
      .filter(gf.prefixAllDiffer(sf.col("bands_a"), sf.col("bands_b"), sf.col("band_a")))
    if (sketchBits > 0)
      cand = cand.filter(gf.sketchMatchBits(sf.col("skb_a"), sf.col("skb_b")) >=
        sf.lit(sketchCutoff(sketchBits, threshold)))
    val pairs = cand.select("a_id", "b_id")
    val shA = a.select(sf.col("a_id"), sf.col("sh").as("sh_a"))
    val shB = b.select(sf.col("b_id"), sf.col("sh").as("sh_b"))
    pairs.join(shA, "a_id").join(shB, "b_id")
      .select(sf.col("a_id"), sf.col("b_id"),
        gf.roundAt(gf.jaccardSortedLongGeq(sf.col("sh_a"), sf.col("sh_b"),
          threshold - 0.00005), 4).as("jaccard"))
      .filter(sf.col("jaccard") >= threshold)
      .localCheckpoint(true) // the range sort below samples its child
      .orderBy("a_id", "b_id")
  }

  /** Per-document 64-bit SimHash signatures. */
  def simHashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.spread(docs.select(sf.col(idCol).cast("long").as("id"), sf.col(textCol).as("t")))
      .select(sf.col("id"), gf.simHash(gf.wsTokens(sf.col("t"))).as("simhash"))
      .orderBy("id")

  /** SimHash near-dup pairs: hamming distance <= maxHamming. Candidate
    * generation blocks the 64-bit signature into maxHamming+1 slices —
    * by pigeonhole, any pair within the hamming budget agrees exactly on
    * at least one slice — so the join is equi on (slice index, slice
    * value), never O(n²). Smaller budgets give wider slices and tighter
    * candidate sets. */
  def simHashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame =
    hammingNearDup(simHashSignatures(docs, idCol, textCol), "id", "simhash",
      maxHamming)

  /** Hamming near-dup pairs over ANY 64-bit signature column — the
    * pigeonhole-banded machinery behind [[simHashNearDup]], factored
    * out so every 64-bit perceptual signature (SimHash over tokens,
    * dHash over image pixels — Multimodal.imageNearDup, SRP sketches)
    * rides the same candidate generation: the signature splits into
    * maxHamming+1 slices, any pair within the budget agrees on at
    * least one slice, and the join is equi on (slice index, slice
    * value) — never O(n²).
    *
    * Scale shape: one posexplode (maxHamming+1 rows per signature), a
    * shuffle-hash equi-join on bounded-width slice keys, and the
    * FIRST-WITNESS dedup (no second shuffle — see inline note). */
  def hammingNearDup(sigs0: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val nBlocks = maxHamming + 1
    val baseWidth = 64 / nBlocks
    val widths = Seq.tabulate(nBlocks)(i => baseWidth + (if (i < 64 % nBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val sliceExprs = (0 until nBlocks).map { q =>
      sf.call_function("shiftright", sf.col("simhash"), sf.lit(offsets(q)))
        .bitwiseAND((1L << widths(q)) - 1)
    }
    val sigs = sigs0.select(sf.col(idCol).as("id"), sf.col(sigCol).as("simhash"))
    val blocks = sigs.select(sf.col("id"), sf.col("simhash"),
      sf.posexplode(sf.array(sliceExprs: _*)).as(Seq("q", "qv")))
    val l = blocks.select(sf.col("q"), sf.col("qv"),
      sf.col("id").as("a_id"), sf.col("simhash").as("sh_a"))
    val r = blocks.select(sf.col("q").as("q_b"), sf.col("qv").as("qv_b"),
      sf.col("id").as("b_id"), sf.col("simhash").as("sh_b"))
    // A pair colliding on several slices would emit once per agreeing
    // slice; instead of a dropDuplicates shuffle over the full pair
    // stream, the FIRST-WITNESS test keeps only the row whose slice is
    // the smallest agreeing one — for all k < q the slices must differ,
    // checkable from the xor of the two signatures the row already
    // carries (mirrors the banded-LSH prefixAllDiffer at Dedup.scala
    // minHashLsh and the streaming in-state variant): zero shuffle,
    // ~nBlocks mask-compares per pair. Hamming runs first — one
    // xor+popcount, and it is the more selective of the two filters.
    val x = sf.col("sh_a").bitwiseXOR(sf.col("sh_b"))
    val sliceDiffers = (k: Int) =>
      sf.call_function("shiftright", x, sf.lit(offsets(k)))
        .bitwiseAND((1L << widths(k)) - 1) =!= 0
    val firstWitness = (0 until nBlocks - 1)
      .map(k => (sf.col("q") <= k) || sliceDiffers(k))
      .reduceOption(_ && _).getOrElse(sf.lit(true))
    l.join(r, sf.col("q") === sf.col("q_b") && sf.col("qv") === sf.col("qv_b") &&
        sf.col("a_id") < sf.col("b_id"))
      .filter(gf.hamming64(sf.col("sh_a"), sf.col("sh_b")) <= maxHamming)
      .filter(firstWitness)
      .select(sf.col("a_id"), sf.col("b_id"),
        gf.hamming64(sf.col("sh_a"), sf.col("sh_b")).as("hamming"))
      .orderBy("a_id", "b_id")
  }

  /** Canonical-member selection over ANY cluster labeling: per cluster,
    * keep the member with the greatest (score, id) — "keep the longest
    * copy", "keep the highest-quality copy" — instead of `dedupCorpus`'s
    * keep-lowest-id default. Policy, not mechanism: compose it with
    * exact-dup groups, simhash signatures, or `nearDupClusters` labels.
    *
    * Scale shape: a single combinable max(struct) aggregation (the
    * `latestSnapshot` design) — partial winners reduce map-side, the
    * shuffle carries one candidate per (map task, cluster), no per-
    * cluster sort. The window-rank formulation is the oracle twin. */
  def selectCanonical(df: DataFrame, clusterCol: String, idCol: String,
                      scoreCol: String): DataFrame =
    df.groupBy(sf.col(clusterCol))
      .agg(sf.count(sf.lit(1)).as("n_members"),
        sf.max(sf.struct(sf.col(scoreCol), sf.col(idCol))).as("__w"))
      .select(sf.col(clusterCol), sf.col("n_members"),
        sf.col(s"__w.$idCol").as("canonical_id"),
        sf.col(s"__w.$scoreCol").as("canonical_score"))
      .orderBy(clusterCol)

  /** Exact duplicated-span REMOVAL (the ExactSubstr dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * at word-n-gram granularity): a token is duplicated when any
    * word n-gram covering it occurs at least twice in the corpus
    * (counting multiplicity — a within-document repeat is a duplicate
    * too, unlike `TextAnalysis.dupNgramFraction`'s doc-distinct
    * carrier counts). Output keeps every document with its surviving
    * text — the spans themselves are cut, which removes boilerplate
    * and templated repetition that document-level dedup cannot touch.
    *
    * Scale shape: the corpus explodes once to (doc, gramPos, gramHash)
    * — hashes, never gram strings, ride every shuffle — and the
    * exploded stream is checkpointed for its two consumers (the
    * global gram-count aggregate and the duplicated-start probe).
    * Duplicated start positions regroup to one array per document (a
    * combinable collect shuffling only DUPLICATED positions), and one
    * equi join keyed by doc_id brings them back to the token arrays;
    * span marking, interval union, and text rebuild are then pure
    * array expressions inside the document's own partition — no token
    * explode, no per-token window sort. Shuffled bytes: gram hashes +
    * duplicated positions + one corpus pass for the final join (which
    * a doc_id-bucketed layout would co-locate away). A 64-bit gram-
    * hash collision can only ADD a duplicated span — conservative,
    * like `decontaminate`. */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 8): DataFrame = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    val base = Par.spread(docs.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"), gf.wsTokens(sf.col("__t")).as("toks"),
        gf.hashedWsNgramSeq(sf.col("__t"), n).as("ghs"))
      .filter(sf.size(sf.col("toks")) > 0)
      .localCheckpoint(true)
    val grams = base.select(sf.col("doc_id"),
      sf.posexplode(sf.col("ghs")).as(Seq("gpos", "gh")))
    val dup = grams.groupBy("gh").agg(sf.count(sf.lit(1)).as("c"))
      .filter(sf.col("c") >= 2).select("gh")
    val dstarts = grams.join(dup, Seq("gh"), "left_semi")
      .groupBy("doc_id")
      .agg(sf.array_sort(sf.collect_set(sf.col("gpos"))).as("ds"))
    val lenC = sf.size(sf.col("toks"))
    base.join(dstarts, Seq("doc_id"), "left")
      .withColumn("marked", sf.when(sf.col("ds").isNull,
          sf.array().cast("array<int>"))
        .otherwise(sf.array_distinct(sf.flatten(sf.transform(sf.col("ds"),
          i => sf.sequence(i, sf.least(i + (n - 1), lenC - 1)))))))
      .withColumn("kept",
        sf.array_except(sf.sequence(sf.lit(0), lenC - 1), sf.col("marked")))
      .select(sf.col("doc_id"),
        lenC.cast("long").as("n_tokens"),
        (lenC - sf.size(sf.col("kept"))).cast("long").as("n_dup_tokens"),
        gf.roundAt((lenC - sf.size(sf.col("kept"))).cast("double") /
          lenC.cast("double"), 4).as("dup_frac"),
        sf.concat_ws(" ",
          sf.transform(sf.col("kept"), p => sf.element_at(sf.col("toks"), p + 1)))
          .as("clean_text"))
      .orderBy("doc_id")
  }
  /** Soft dedup: instead of DROPPING duplicates, down-weight them —
    * every member of an exact-duplicate group (by normalized content
    * fingerprint) gets weight 1/|group|, so each distinct content
    * contributes one unit of training mass no matter how many copies
    * crawled in. The gentler sibling of `dedupCorpus` (losing near-dup
    * nuance is sometimes worse than over-counting; mixture tuning wants
    * the mass, not the row count).
    *
    * Weights are exact integers at 1e6 scale (1000000 div group_size),
    * so any downstream weighted aggregate stays bit-replayable.
    *
    * Scale shape: one fingerprint-keyed combinable count, then a
    * fingerprint-keyed join back — two shuffles on a fixed-width
    * digest, text bodies never shuffle (the fingerprint rides instead).
    */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = docs.withColumn("__fp", gf.fingerprint(sf.col(textCol)))
    val sizes = fp.groupBy(sf.col("__fp").as("__gfp"))
      .agg(sf.count(sf.lit(1)).as("group_size"))
    fp.join(sizes, sf.col("__fp") === sf.col("__gfp"))
      .withColumn("weight_fx", sf.expr("1000000L div group_size"))
      .drop("__fp", "__gfp")
  }

  /** Weighted-corpus size datasheet under [[softDedupWeights]]: Σw,
    * Kish's ESS = (Σw)²/Σw², and the design effect deff = n·Σw²/(Σw)²
    * per source plus a pooled `(all)` row. Two DIFFERENT numbers that
    * price soft dedup against hard dedup: Σw APPROXIMATES the distinct-
    * fingerprint group count — the corpus hard dedup would keep (a
    * size-s group's weights sum to s·(1e6 div s)/1e6: exactly 1 only
    * when s divides 1e6, else slightly under — a size-3 group sums to
    * 0.999999, so Σw underestimates the group count by at most
    * 1e-6·n_docs); Kish ESS/deff price
    * the weight DISPERSION — the variance every weighted corpus
    * statistic inherits from mixing heavily-downweighted template
    * groups with weight-1 unique docs (deff ≈ 1: weights near-uniform,
    * soft dedup is statistically near-free; deff ≫ 1: estimates ride
    * on a few full-weight docs and hard dedup costs little precision).
    *
    * Determinism: weights are the exact 1e6 fixed-point integers
    * (1e6 div group_size), so Σw and Σw² are exact and the 1e6 scale
    * CANCELS in both ratios — ESS = S₁²/S₂ and deff = n·S₂/S₁² are
    * single pinned divisions of DECIMAL(38,0) integers (ESS 1e-4,
    * ratio/deff 1e-6). Empty sources cannot occur (every doc carries a
    * weight).
    *
    * Scale shape: the [[softDedupWeights]] fingerprint chain + one
    * combinable source rollup + a domain-only re-agg for the pooled
    * row. */
  def effectiveSampleSize(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String): DataFrame = {
    val w = softDedupWeights(docs, idCol, textCol)
      .select(sf.col(sourceCol).cast("string").as("source"), sf.col("weight_fx"))
    val per = w.groupBy("source")
      .agg(sf.count(sf.lit(1)).as("n_docs"),
        sf.sum(dec(sf.col("weight_fx"))).as("__s1"),
        sf.sum(dec(sf.col("weight_fx")) * dec(sf.col("weight_fx"))).as("__s2"))
      .localCheckpoint(true) // output + pooled re-agg read it
    val all = per.agg(sf.sum("n_docs").cast("long").as("n_docs"),
        sf.sum("__s1").as("__s1"), sf.sum("__s2").as("__s2"))
      .withColumn("source", sf.lit("(all)"))
    def finish(df: DataFrame) = df.select({
      val n = sf.col("n_docs").cast("double")
      val s1 = sf.col("__s1").cast("double")
      val ess = s1 * s1 / sf.col("__s2").cast("double")
      Seq(sf.col("source"), sf.col("n_docs"),
        gf.roundAt(s1 / 1e6, 4).as("sum_weight"),
        gf.roundAt(ess, 4).as("ess"),
        gf.roundAt(ess / n, 6).as("ess_ratio"),
        gf.roundAt(n / ess, 6).as("deff"))
    }: _*)
    finish(per).unionByName(finish(all)).orderBy("source")
  }

  /** Edit-distance similarity join, FastSS deletion-neighborhood
    * blocking (Bocek et al. 2007): all pairs within Levenshtein
    * distance `maxDist`, found by an EQUI-join — never a cross
    * product. ed(a,b) <= k implies the k-deletion neighborhoods of a
    * and b intersect (align the edit script; each side deletes its
    * unmatched characters), so exploding each key's <= C(L,k)·k
    * variants and equi-joining on the variant hash yields a complete
    * candidate set, verified with the exact `levenshtein` before
    * emission — collisions and neighborhood false positives cost work,
    * never correctness. This is the entity-resolution / typo-cluster
    * primitive (q70's pairwise baseline is its quadratic twin).
    *
    * Scale shape: variant fan-out is per-ROW bounded (L+1 at k=1, ~L²/2
    * at k=2 — which is why `keyExpr` should be a SHORT key: title,
    * name, fixed prefix), the join is bucketed by variant hash with
    * per-bucket cost quadratic only in bucket occupancy (the FastSS
    * analogue of an LSH bucket), candidate pairs dedup BEFORE the
    * O(k·L) verify, and only ids + short keys shuffle. */
  def editDistanceJoin(df: DataFrame, idCol: String, keyExpr: org.apache.spark.sql.Column,
                       maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (neighborhood size explodes beyond), got $maxDist")
    val t = Par.spread(df.select(sf.col(idCol).cast("long").as("id"), keyExpr.as("s")))
      .filter(sf.col("s").isNotNull)
    val v = t.select(sf.col("id"), sf.col("s"),
        sf.explode(gf.deletionVariants(sf.col("s"), sf.lit(maxDist))).as("__v"))
      .select(sf.col("id"), sf.col("s"), sf.xxhash64(sf.col("__v")).as("vh"))
    val cand = v.as("a").join(v.as("b"),
        sf.col("a.vh") === sf.col("b.vh") && sf.col("a.id") < sf.col("b.id"))
      .select(sf.col("a.id").as("a_id"), sf.col("b.id").as("b_id"),
        sf.col("a.s").as("__sa"), sf.col("b.s").as("__sb"))
      .distinct()
    cand
      .select(sf.col("a_id"), sf.col("b_id"),
        sf.levenshtein(sf.col("__sa"), sf.col("__sb")).cast("long").as("dist"))
      .filter(sf.col("dist") <= maxDist)
      .orderBy("a_id", "b_id")
  }

  /** Damerau–Levenshtein similarity join — [[editDistanceJoin]] with
    * TRANSPOSITIONS costing 1: "teh"/"the", "recieve"/"receive" are
    * distance-1 neighbors here but distance-2 under plain Levenshtein,
    * and adjacent-swap typos are the single most common class in
    * human-keyed identifiers — the entity-resolution join that
    * actually matches how keys get mistyped. FULL (unrestricted)
    * Lowrance–Wagner DL, not the common OSA shortcut: dl("CA","ABC")
    * = 2.
    *
    * Blocking correctness: each DL edit (indel, substitution,
    * transposition) is resolvable by at most ONE deletion on each
    * side — a transposition deletes either swapped character from
    * both strings and meets in the middle — so dl(a,b) ≤ k still
    * implies the k-deletion neighborhoods intersect and the
    * [[editDistanceJoin]] FastSS equi-join stays a COMPLETE candidate
    * generator; the exact DL kernel verifies before emission.
    *
    * Scale shape: identical to [[editDistanceJoin]] — per-row bounded
    * variant fan-out, variant-hash bucket join, dedup before the
    * O(k·L) verify kernel; only ids + short keys shuffle. */
  def dlDistanceJoin(df: DataFrame, idCol: String, keyExpr: org.apache.spark.sql.Column,
                     maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (neighborhood size explodes beyond), got $maxDist")
    val t = Par.spread(df.select(sf.col(idCol).cast("long").as("id"), keyExpr.as("s")))
      .filter(sf.col("s").isNotNull)
    val v = t.select(sf.col("id"), sf.col("s"),
        sf.explode(gf.deletionVariants(sf.col("s"), sf.lit(maxDist))).as("__v"))
      .select(sf.col("id"), sf.col("s"), sf.xxhash64(sf.col("__v")).as("vh"))
    val cand = v.as("a").join(v.as("b"),
        sf.col("a.vh") === sf.col("b.vh") && sf.col("a.id") < sf.col("b.id"))
      .select(sf.col("a.id").as("a_id"), sf.col("b.id").as("b_id"),
        sf.col("a.s").as("__sa"), sf.col("b.s").as("__sb"))
      .distinct()
    cand
      .select(sf.col("a_id"), sf.col("b_id"),
        gf.damerauLevenshtein(sf.col("__sa"), sf.col("__sb")).as("dist"))
      .filter(sf.col("dist") <= maxDist)
      .orderBy("a_id", "b_id")
  }

  /** Content-defined chunking (CDC) duplicate-chunk analysis — the
    * storage-dedup primitive (LBFS/rsync family): chunk boundaries
    * fall where the hash of a `window`-char sliding context is ≡ 0
    * mod `avgChunk`, so identical content produces identical chunks
    * REGARDLESS of position — an insertion early in a document shifts
    * every fixed-size block but only the one straddling CDC chunk.
    * Output: every chunk occurring ≥ `minOcc` times across the corpus
    * with its occurrence/document counts — the "how much of this
    * corpus is re-used byte ranges" answer that line-level dedup
    * (which needs newline alignment) can't give.
    *
    * Portability: the boundary hash is md5-60 of the window substring
    * (the q165 convention) and chunk identity is the chunk's md5 —
    * any engine replays boundaries and grouping exactly. Boundaries
    * skip position 1 (no empty first chunk); docs shorter than the
    * window are one whole-doc chunk.
    *
    * Scale shape: chunking is ONE map-only array-kernel pass per
    * document (no explode until chunks exist, ~len/avgChunk each);
    * the only shuffle is the map-side-combined (chunk-hash) count;
    * chunk TEXT never shuffles — only 60-bit hashes and lengths. */
  def cdcDuplicateChunks(docs: DataFrame, idCol: String, textCol: String,
                         window: Int = 8, avgChunk: Int = 64,
                         minOcc: Int = 2): DataFrame = {
    require(window >= 2 && window <= 64, s"window must be in [2, 64], got $window")
    require(avgChunk >= 2, s"avgChunk must be >= 2, got $avgChunk")
    require(minOcc >= 1, s"minOcc must be >= 1, got $minOcc")
    // Chunking is one fused JVM kernel pass per document
    // (Kernels.cdcChunkIds): the previous array-expression form
    // evaluated a substr→md5→conv tree per CHARACTER position under
    // interpreted HOFs — the q171 winnowing pathology (6.3s -> ~1s at
    // sf0.1). Only "md5hex:charLen" ids explode; chunk TEXT never
    // leaves the kernel.
    Par.spread(docs.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"),
        sf.explode(gf.cdcChunkIds(sf.col("__t"), window, avgChunk)).as("__e"))
      .groupBy("__e")
      .agg(sf.count(sf.lit(1)).as("n_occ"),
        sf.count_distinct(sf.col("doc_id")).as("n_docs"))
      .filter(sf.col("n_occ") >= minOcc)
      .select(sf.substring(sf.col("__e"), 1, 32).as("chunk_md5"),
        sf.substring(sf.col("__e"), 34, 18).cast("long").as("chunk_len"),
        sf.col("n_occ"), sf.col("n_docs"))
      .orderBy(sf.col("n_occ").desc, sf.col("chunk_md5"))
  }

  /** Blocked Jaro–Winkler record-linkage join: candidate pairs come
    * ONLY from equal `blockExpr` values (the classic blocking strategy
    * — a structured attribute bounds the comparison space), then each
    * in-block pair is scored with the codegen'd Jaro–Winkler kernel
    * and kept at `threshold`. The name-similarity sibling of
    * [[editDistanceJoin]] (FastSS bounds edit DISTANCE; JW rewards
    * shared prefixes, the human-name/entity convention).
    *
    * Scale shape: the self-join is a hash equi join on the block key —
    * never a cartesian — with per-block cost quadratic only in block
    * occupancy, so `blockExpr` choice bounds the work exactly like an
    * LSH bucket; only ids + keys shuffle; the JW evaluation runs
    * inside whole-stage codegen on the joined pairs. Blocking trades
    * recall for tractability BY DESIGN (a cross-block near-match is
    * unseen) — the standard record-linkage contract. */
  /** Blocking-quality report for a record-linkage scheme, one row: the
    * numbers that decide whether a blocking key is usable BEFORE
    * running the quadratic-per-block join ([[jaroWinklerJoin]]) —
    * candidate pairs Σ s·(s−1)/2, the reduction ratio vs the naive
    * n·(n−1)/2 all-pairs scan, the biggest block's size and pair
    * share (ONE hot block can dominate the whole join), and the
    * singleton count (rows that can never match — blocking too fine).
    * Null block keys are excluded (they match nothing), reported as
    * n_unblocked.
    *
    * Exactness: pair counts in DECIMAL(38,0) (a 10^9-row block is
    * ~5·10^17 pairs — summing several overflows int64); ratios are
    * the only doubles, pinned, rounded 1e-6.
    *
    * Scale shape: one block-keyed map-side-combinable count, then a
    * single-row aggregation over the block domain. */
  def blockingQuality(df: DataFrame, blockExpr: org.apache.spark.sql.Column): DataFrame = {
    val blocks = Par.spread(df.select(blockExpr.as("__b")))
      .groupBy("__b").agg(sf.count(sf.lit(1)).as("sz"))
    val dec = sf.col("sz").cast("decimal(38,0)")
    val pairsCol = (dec * (dec - 1) / 2).cast("decimal(38,0)")
    val nulls = sf.when(sf.col("__b").isNull, sf.col("sz")).otherwise(0L)
    val live = sf.col("__b").isNotNull
    val agg = blocks.agg(
      sf.sum(sf.when(live, sf.col("sz")).otherwise(0L)).as("n_rows"),
      sf.sum(nulls).as("n_unblocked"),
      sf.sum(live.cast("long")).as("n_blocks"),
      sf.sum(sf.when(live && sf.col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"),
      sf.max(sf.when(live, sf.col("sz"))).as("max_block"),
      sf.sum(sf.when(live, pairsCol).otherwise(sf.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)").as("cand_pairs"))
    val n = sf.col("n_rows").cast("decimal(38,0)")
    val allPairs = (n * (n - 1) / 2).cast("decimal(38,0)")
    val mb = sf.col("max_block").cast("decimal(38,0)")
    agg.select(sf.col("n_rows"), sf.col("n_unblocked"), sf.col("n_blocks"),
      sf.col("n_singletons"), sf.col("max_block"),
      sf.col("cand_pairs").cast("long").as("cand_pairs"),
      sf.when(allPairs > 0, gf.roundAt(sf.lit(1.0) -
        sf.col("cand_pairs").cast("double") / allPairs.cast("double"), 6))
        .as("reduction_ratio"),
      sf.when(sf.col("cand_pairs") > 0, gf.roundAt(
        (mb * (mb - 1) / 2).cast("double") /
          sf.col("cand_pairs").cast("double"), 6)).as("max_block_pair_share"))
  }

  /** One comparison field for [[fellegiSunter]]: agreement predicate
    * over the left/right values of `col`, with the field's m
    * (P(agree | match)) and u (P(agree | non-match)) probabilities. */
  final case class LinkField(name: String, col: String,
    agree: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
      org.apache.spark.sql.Column,
    m: Double, u: Double)

  /** Fellegi–Sunter probabilistic record linkage (JASA 1969 — the
    * foundational model behind every modern linkage system): each
    * in-block candidate pair scores the sum over fields of
    * ln(m/u) on agreement and ln((1−m)/(1−u)) on disagreement, and the
    * total log-likelihood weight classifies the pair (match above the
    * upper threshold, possible in between). The principled upgrade of
    * single-field similarity joins ([[jaroWinklerJoin]],
    * [[editDistanceJoin]]): evidence from MULTIPLE fields combines,
    * and a strong field can outvote a weak one.
    *
    * Determinism: the six-per-field log constants snap 1e-9 ON THE
    * DRIVER and embed as integer plan/oracle literals (the q206 SPRT
    * convention — engine libm never runs), so every pair weight is an
    * exact integer sum; a NULL comparison counts as disagreement.
    *
    * Scale shape: the candidate space is a hash equi join on the block
    * key — never a cartesian; per-block cost is quadratic ONLY in
    * block occupancy (measure with [[blockingQuality]] first); only
    * ids + the compared fields shuffle; emission is bounded to pairs
    * with weight >= `minWeight` (positive evidence by default). */
  def fellegiSunter(df: DataFrame, idCol: String, blockCols: Seq[String],
                    fields: Seq[LinkField], minWeight: Double = 0.0,
                    matchThreshold: Double = 4.0): DataFrame = {
    require(blockCols.nonEmpty, "blocking columns are required")
    require(fields.nonEmpty, "at least one comparison field is required")
    fields.foreach { f =>
      require(f.m > 0 && f.m < 1 && f.u > 0 && f.u < 1 && f.m > f.u,
        s"field ${f.name}: need 0 < u < m < 1, got m=${f.m} u=${f.u}")
    }
    def fx9(x: Double): Long = math.floor(math.log(x) * 1e9 + 0.5).toLong
    val wAgree = fields.map(f => fx9(f.m / f.u))
    val wDis = fields.map(f => fx9((1 - f.m) / (1 - f.u)))
    val min9 = math.floor(minWeight * 1e9 + 0.5).toLong
    val t9 = math.floor(matchThreshold * 1e9 + 0.5).toLong
    val cols = (Seq(idCol) ++ blockCols ++ fields.map(_.col)).distinct
    val base = Par.spread(df.select(cols.map(sf.col): _*))
      .filter(blockCols.map(sf.col(_).isNotNull).reduce(_ && _))
    val a = base.as("a"); val b = base.as("b")
    val blockEq = blockCols.map(c => sf.col(s"a.$c") === sf.col(s"b.$c"))
      .reduce(_ && _)
    val agreeCols = fields.map(f =>
      sf.coalesce(f.agree(sf.col(s"a.${f.col}"), sf.col(s"b.${f.col}")),
        sf.lit(false)))
    val weight9 = fields.indices.map(i =>
      sf.when(agreeCols(i), wAgree(i)).otherwise(wDis(i)))
      .reduce(_ + _)
    a.join(b, blockEq &&
        sf.col(s"a.$idCol").cast("long") < sf.col(s"b.$idCol").cast("long"))
      .select(Seq(sf.col(s"a.$idCol").cast("long").as("a_id"),
        sf.col(s"b.$idCol").cast("long").as("b_id")) ++
        fields.indices.map(i => agreeCols(i).as(s"agree_${fields(i).name}")) ++
        Seq(weight9.as("__w9")): _*)
      .filter(sf.col("__w9") >= min9)
      .select(sf.col("a_id") +: sf.col("b_id") +:
        fields.map(f => sf.col(s"agree_${f.name}")) :+
        gf.roundAt(sf.col("__w9").cast("double") / 1e9, 6).as("weight") :+
        sf.when(sf.col("__w9") >= t9, "match").otherwise("possible")
          .as("decision"): _*)
      .orderBy("a_id", "b_id")
  }

  def jaroWinklerJoin(df: DataFrame, idCol: String,
                      nameExpr: org.apache.spark.sql.Column,
                      blockExpr: org.apache.spark.sql.Column,
                      threshold: Double = 0.9): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val t = Par.spread(df.select(sf.col(idCol).cast("long").as("id"),
        nameExpr.as("s"), blockExpr.as("blk")))
      .filter(sf.col("s").isNotNull && sf.col("blk").isNotNull)
    val jw = gf.jaroWinkler(sf.col("a.s"), sf.col("b.s"))
    t.as("a").join(t.as("b"),
        sf.col("a.blk") === sf.col("b.blk") && sf.col("a.id") < sf.col("b.id"))
      .filter(jw >= threshold)
      .select(sf.col("a.id").as("a_id"), sf.col("b.id").as("b_id"),
        gf.roundAt(jw, 4).as("jw"))
      .orderBy("a_id", "b_id")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS algorithm): per document, hash every word k-gram in text
    * order, then keep the MINIMUM hash of every window of `w`
    * consecutive gram hashes. The selected set is position-robust —
    * any shared substring of at least k+w-1 tokens is guaranteed to
    * contribute at least one common fingerprint — which is what makes
    * it the standard local-similarity / plagiarism detector, the
    * span-level sibling of MinHash's whole-document sketch.
    *
    * Fingerprint identity is the value-based selection (distinct
    * window minima per doc): window minima are hash VALUES, so the
    * selection is engine-portable as long as the hash is — grams hash
    * via the md5-60-bit portable base (the q165 minhash convention),
    * NOT xxh64, precisely so a SQL oracle can replay the minima.
    * Docs shorter than k tokens contribute their whole token sequence
    * as one gram; docs with fewer than w grams contribute their single
    * global minimum; empty docs contribute nothing.
    *
    * Scale shape: gram hashing and window-minima selection are one
    * map-only pass per document (array kernels inside whole-stage
    * codegen — no explode until the selected ~1/w fraction), and the
    * only shuffles are the fingerprint df-count and the posting-list
    * self-join keyed by fingerprint. Boilerplate control: fingerprints
    * seen in more than `maxDf` documents are dropped BEFORE the pair
    * join (the standard winnowing practice — a hot header line would
    * otherwise produce a df² bucket), so per-bucket pair cost is
    * bounded by maxDf². */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    // ONE fused JVM kernel per doc (tokenize -> md5-60 k-grams ->
    // w-window minima -> distinct). The chained array-expression
    // formulation re-evaluated the gram array per window under
    // projection collapse — ~k·w× re-hash per doc, 334s at sf0.1 for
    // a job this kernel finishes in seconds.
    Par.spread(docs.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.col(textCol).as("__t")))
      .select(sf.col("doc_id"),
        sf.explode(gf.winnowingFps(sf.lower(sf.col("__t")), k, w)).as("fp"))
  }

  /** The (rows, bands) grid for [[lshPlanner]] with each config's
    * theoretical S-curve midpoint s₅₀ = (1 − 2^(−1/b))^(1/r) — the
    * similarity where detection probability crosses 1/2. Computed
    * ONCE on the driver and shared VERBATIM by the Spark plan and the
    * oracle (the row 422 Holt-weights convention for driver-computed
    * transcendental constants). */
  def lshPlannerConfigs(sketchBits: Int = 128): Seq[(Int, Int, Double)] = {
    require(sketchBits >= 2 && Integer.bitCount(sketchBits) == 1,
      s"sketchBits must be a power of two >= 2, got $sketchBits")
    Iterator.iterate(1)(_ * 2).takeWhile(_ <= sketchBits).map { r =>
      val b = sketchBits / r
      (r, b, math.pow(1.0 - math.pow(2.0, -1.0 / b), 1.0 / r))
    }.toSeq
  }

  /** LSH parameter planner — for every (rows r, bands b) split of a
    * fixed minhash sketch budget (r·b = `sketchBits`), the EXPECTED
    * RECALL the banding scheme would achieve over an OBSERVED
    * true-pair set (e.g. row 127/137's exact Jaccard join at the
    * design threshold): E[recall] = mean over pairs of 1 − (1 − sʳ)ᵇ.
    * The design table behind every row 29 deployment — theory alone
    * gives the S-curve, but where YOUR corpus's near-dup mass sits on
    * it decides whether 8×16 or 32×4 wastes the budget — plus each
    * config's theoretical midpoint s₅₀ for reading the trade-off.
    *
    * Determinism: similarities arrive already snapped (the pair
    * join's 1e-4 output grid); the detection probability is the
    * pinned assembly 1 − exp(b·ln(1 − exp(r·ln s))) (exact-duplicate
    * s ≥ 1 short-circuits to 1), SNAPPED to a 1e-9 long per (pair,
    * config) before the cross-pair sum (float partials are partition-
    * order-dependent); the mean is one pinned division 1e-6; s₅₀ is a
    * driver-computed literal shared verbatim with the oracle.
    *
    * Scale shape: pairs × |configs| via a broadcast domain cross +
    * ONE combinable rollup — the pair set itself comes from the
    * blocked/banded row 127 machinery, never enumerated here. */
  def lshPlanner(pairs: DataFrame, simCol: String,
                 sketchBits: Int = 128): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val cfg = lshPlannerConfigs(sketchBits).toDF("rows_per_band", "bands", "__s50")
    val s = sf.col(simCol).cast("double")
    // s <= 0 short-circuits to pdet = 0: log(s) would be NULL/-Inf,
    // dropping the pair's term from the sum while n_pairs still counts
    // it — silently deflating expected_recall. A zero-similarity pair
    // is genuinely never detected, so 0 is the honest term.
    val pdet = sf.when(s >= 1.0, sf.lit(1.0))
      .when(s <= 0.0, sf.lit(0.0))
      .otherwise(sf.lit(1.0) - sf.exp(sf.col("bands").cast("double") *
        sf.log(sf.lit(1.0) - sf.exp(sf.col("rows_per_band").cast("double") *
          sf.log(s)))))
    pairs.crossJoin(sf.broadcast(cfg))
      .select(sf.col("rows_per_band"), sf.col("bands"), sf.col("__s50"),
        sf.floor(pdet * 1e9 + 0.5).cast("long").as("__p9"))
      .groupBy("rows_per_band", "bands", "__s50")
      .agg(sf.count(sf.lit(1)).as("n_pairs"),
        sf.sum(dec(sf.col("__p9"))).as("__sp"))
      .select(sf.col("rows_per_band"), sf.col("bands"),
        gf.roundAt(sf.col("__s50"), 6).as("s50"), sf.col("n_pairs"),
        gf.roundAt(sf.col("__sp").cast("double") /
          sf.col("n_pairs").cast("double") / 1e9, 6).as("expected_recall"))
      .orderBy("rows_per_band")
  }

  /** Shared-fingerprint document pairs from [[winnowingFingerprints]]:
    * every pair of documents sharing at least `minShared` selected
    * fingerprints, with the shared count — ranked input for span-level
    * dedup review. Fingerprints with document frequency > `maxDf` (or
    * < 2, which cannot pair) are dropped before the self-join. */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 4, w: Int = 4, minShared: Int = 2,
                     maxDf: Int = 50): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val fps = winnowingFingerprints(docs, idCol, textCol, k, w)
      .localCheckpoint(true) // read by the df-count and both join sides
    val keep = fps.groupBy("fp").agg(sf.count(sf.lit(1)).as("__df"))
      .filter(sf.col("__df") >= 2 && sf.col("__df") <= maxDf)
      .select("fp")
    val posts = fps.join(keep, "fp")
    posts.as("a").join(posts.as("b"),
        sf.col("a.fp") === sf.col("b.fp") &&
          sf.col("a.doc_id") < sf.col("b.doc_id"))
      .groupBy(sf.col("a.doc_id").as("doc_a"), sf.col("b.doc_id").as("doc_b"))
      .agg(sf.count(sf.lit(1)).as("n_shared"))
      .filter(sf.col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }
}
