package graft

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{functions => sf}

import graft.plans.Kernels

/** Column-level building blocks. Everything here is pure Catalyst
  * expressions (no UDFs) so the whole surface stays inside whole-stage
  * codegen and survives predicate pushdown / constant folding at 100 TB.
  *
  * Reference semantics re-expressed (not copied) from
  * /root/reference/etl.py: convert_date (line 42), get_season (63-81),
  * date expansion (447-487), string parsing (i94port, 618-646).
  */
object functions {

  /** Wrap a graft.plans.Kernels method as a codegen-capable expression:
    * StaticInvoke emits a direct static call inside whole-stage codegen
    * (interpreted higher-order functions pay per-element lambda
    * dispatch; these kernels run as tight JVM loops). */
  private def kernel(returnType: DataType, name: String, args: Column*): Column =
    GraftBridge.column(StaticInvoke(
      Kernels.getClass, returnType, name,
      args.map(GraftBridge.expression).toIndexedSeq))

  // --------------------------------------------------------------------
  // Dates (reference: SAS epoch days since 1960-01-01)
  // --------------------------------------------------------------------
  private val SasEpoch = "1960-01-01"

  /** Days-since-1960-01-01 integer -> DATE (reference etl.py:42). */
  def sasDaysToDate(days: Column): Column =
    sf.date_add(sf.lit(SasEpoch).cast("date"), days.cast("int"))

  /** DATE -> days since 1960-01-01 (inverse, used for date surrogate keys). */
  def dateToSasDays(d: Column): Column =
    sf.datediff(d.cast("date"), sf.lit(SasEpoch).cast("date"))

  /** Meteorological season from a month number (reference etl.py:63-81,
    * a Python UDF there; a codegen'd CASE expression here). */
  def season(month: Column): Column =
    sf.when(month.isin(12, 1, 2), "Winter")
      .when(month.isin(3, 4, 5), "Spring")
      .when(month.isin(6, 7, 8), "Summer")
      .otherwise("Autumn")

  /** 1 when the date falls on Sat/Sun (reference etl.py:464). */
  def isWeekend(d: Column): Column = sf.dayofweek(d).isin(1, 7).cast("int")

  // --------------------------------------------------------------------
  // Text primitives
  // --------------------------------------------------------------------
  /** Engine-portable half-up rounding of a DOUBLE: floor(x*10^s + 0.5)
    * / 10^s, evaluated entirely in binary double arithmetic. Spark's
    * `round` rounds the value's SHORTEST DECIMAL STRING (HALF_UP on
    * Double.toString), while SQL engines round the binary value — a
    * double whose shortest repr ends in "...5" (e.g. 4201.315 =
    * 4201.31499999999978 in binary) rounds UP in Spark and DOWN in the
    * oracle. This form does the identical float ops on both engines, so
    * results are bit-identical; as a bonus floor(±0.0...+0.5)=0 -> never
    * emits -0.0. Mirror in SQL as floor(x*10^s + 0.5)/10^s. */
  def roundAt(c: Column, scale: Int): Column = {
    val f = sf.lit(math.pow(10, scale))
    sf.floor(c * f + sf.lit(0.5)).cast("double") / f
  }

  /** lowercase, collapse whitespace runs, trim. */
  def normalizeText(t: Column): Column =
    sf.trim(sf.regexp_replace(sf.lower(t), "\\s+", " "))

  /** Whitespace tokens; empty text -> empty array (not [""]). */
  def wsTokens(t: Column): Column = {
    val tt = sf.trim(t)
    sf.when(sf.length(tt) === 0, sf.array().cast("array<string>"))
      .otherwise(sf.split(tt, "\\s+"))
  }

  def tokenCount(t: Column): Column = sf.size(wsTokens(t))

  /** BPE-ish tokens: alnum runs or single punctuation marks. */
  def bpeTokens(t: Column): Column =
    sf.regexp_extract_all(sf.lower(t), sf.lit("[a-z0-9]+|[^a-z0-9\\s]"), sf.lit(0))

  def bpeTokenCount(t: Column): Column = sf.size(bpeTokens(t))

  /** Character n-grams of the normalized text; short text -> [text]. */
  def charNgrams(t: Column, n: Int): Column = {
    val s = normalizeText(t)
    sf.when(sf.length(s) < n, sf.array(s))
      .otherwise(
        sf.transform(sf.sequence(sf.lit(1), sf.length(s) - (n - 1)),
          i => s.substr(i, sf.lit(n))))
  }

  /** Distinct word n-gram shingles (n=1 -> word set). */
  def wordShingles(t: Column, n: Int = 1): Column =
    if (n == 1) sf.array_distinct(wsTokens(t))
    else {
      val toks = wsTokens(t)
      sf.when(sf.size(toks) < n, sf.array(sf.concat_ws(" ", toks)))
        .otherwise(sf.array_distinct(
          sf.transform(sf.sequence(sf.lit(0), sf.size(toks) - n),
            i => sf.concat_ws(" ", sf.slice(toks, i + 1, sf.lit(n))))))
    }

  /** Exact Jaccard similarity of two string arrays as distinct sets
    * (both-empty -> 1.0). Kernel-backed. */
  def jaccard(a: Column, b: Column): Column =
    kernel(DoubleType, "jaccard", a, b)

  /** Jaccard over distinct SORTED arrays: allocation-free merge scan —
    * use on hot pair-verification paths with `array_sort`ed shingles. */
  def jaccardSorted(a: Column, b: Column): Column =
    kernel(DoubleType, "jaccardSorted", a, b)

  /** Sorted distinct xxhash64 form of a shingle set (see
    * Kernels.hashSetSorted): the compact verification representation. */
  def hashShingles(shingles: Column): Column =
    kernel(ArrayType(LongType, containsNull = false), "hashSetSorted", shingles)

  /** hashShingles(wordShingles(t)) in one fused allocation-free pass
    * (see Kernels.hashedWsShingles). */
  def hashedWsShingles(t: Column): Column =
    kernel(ArrayType(LongType, containsNull = false), "hashedWsShingles", t)

  /** Sorted distinct 64-bit hashes of a text's word n-grams in one
    * fused pass — gram identity without gram strings (see
    * Kernels.hashedWsNgrams). */
  def hashedWsNgrams(t: Column, n: Int): Column =
    kernel(ArrayType(LongType, containsNull = false), "hashedWsNgrams", t, sf.lit(n))

  /** One-pass n = 1..maxN ladder of [[hashedWsNgrams]] (slot k = width
    * k+1): coverage consumers read every width from ONE tokenization
    * instead of one full text pass per n (see
    * Kernels.hashedWsNgramsLadder). */
  def hashedWsNgramsLadder(t: Column, maxN: Int): Column =
    kernel(ArrayType(ArrayType(LongType, containsNull = false), containsNull = false),
      "hashedWsNgramsLadder", t, sf.lit(maxN))

  /** Positional word-n-gram hashes: text order, multiplicity kept —
    * index i is the gram starting at token i (see
    * Kernels.hashedWsNgramSeq). For span-level dedup. */
  def hashedWsNgramSeq(t: Column, n: Int): Column =
    kernel(ArrayType(LongType, containsNull = false), "hashedWsNgramSeq", t, sf.lit(n))

  /** Jaro–Winkler similarity in [0, 1] — the record-linkage string
    * comparator (see Kernels.jaroWinkler; DuckDB-parity semantics:
    * boost threshold 0.7, prefix cap 4, empty → 0). */
  def jaroWinkler(a: Column, b: Column): Column =
    kernel(DoubleType, "jaroWinkler", a, b)

  /** Shannon entropy (nats) of the whitespace-token distribution (see
    * Kernels.tokenEntropy). */
  def tokenEntropy(t: Column): Column = kernel(DoubleType, "tokenEntropy", t)

  /** Shannon entropy (nats) of the space-trimmed code-point
    * distribution (see Kernels.charEntropy). */
  def charEntropy(t: Column): Column = kernel(DoubleType, "charEntropy", t)

  /** Jaccard over two hashShingles arrays (primitive merge scan). */
  def jaccardSortedLong(a: Column, b: Column): Column =
    kernel(DoubleType, "jaccardSortedLong", a, b)

  /** MinHash LSH band hashes from an already-hashed shingle set (see
    * Kernels.minHashBandsFromHashes — the post-exact-collapse path). */
  def minHashBandsFromHashes(shh: Column, k: Int, rowsPerBand: Int): Column =
    kernel(ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false),
      "minHashBandsFromHashes", shh, sf.lit(k), sf.lit(rowsPerBand))

  /** b-bit minwise sketch of an already-hashed shingle set: nBits
    * parity bits of independent minhash permutations packed into
    * nBits/64 longs (see Kernels.minHashBitSketchFromHashes). */
  def minHashBitSketch(shh: Column, nBits: Int): Column = {
    // the kernel packs parity bits into exactly nBits/64 longs; a
    // non-multiple would mis-size the array and overflow inside codegen
    require(nBits > 0 && nBits % 64 == 0,
      s"nBits must be a positive multiple of 64, got $nBits")
    kernel(ArrayType(LongType, containsNull = false),
      "minHashBitSketchFromHashes", shh, sf.lit(nBits))
  }

  /** Agreeing-bit count between two packed bit sketches (xor+popcount). */
  def sketchMatchBits(a: Column, b: Column): Column =
    kernel(org.apache.spark.sql.types.IntegerType, "sketchMatchBits", a, b)

  /** Early-abandoning Jaccard for >=t verification: exact value for
    * pairs that can still reach t, -1.0 once the running upper bound
    * rules them out (see Kernels.jaccardSortedLongGeq). */
  def jaccardSortedLongGeq(a: Column, b: Column, t: Double): Column =
    kernel(DoubleType, "jaccardSortedLongGeq", a, b, sf.lit(t))

  /** Word bigrams ("a b") of the whitespace tokens; <2 tokens -> []. */
  def wordBigrams(t: Column): Column = {
    val toks = wsTokens(t)
    sf.when(sf.size(toks) < 2, sf.array().cast("array<string>"))
      .otherwise(sf.transform(sf.sequence(sf.lit(1), sf.size(toks) - 1),
        i => sf.concat_ws(" ", sf.element_at(toks, i), sf.element_at(toks, i + 1))))
  }

  /** Fraction of an array taken by its most frequent element. */
  def maxFreqFraction(arr: Column): Column =
    kernel(DoubleType, "maxFreqFraction", arr)

  /** Fraction of a token array's bigrams taken by the most frequent
    * bigram (fused — see Kernels.maxBigramFraction). */
  def maxBigramFraction(tokens: Column): Column =
    kernel(DoubleType, "maxBigramFraction", tokens)

  /** Canonical content fingerprint: md5 of normalized text. */
  def fingerprint(t: Column): Column = sf.md5(normalizeText(t))

  /** Order-sensitive Rabin-Karp rolling fingerprint: polynomial fold
    * (acc*31 + h) mod p over md5-60-bit token hashes (see
    * Kernels.rollingHashMd5). md5-based so the identical fingerprint is
    * reproducible in any engine with an md5() function. Kernel-backed. */
  def rollingHash(tokens: Column): Column =
    kernel(LongType, "rollingHashMd5", tokens)

  /** Fused winnowing fingerprint selection (MOSS window minima of
    * md5-60 k-gram hashes) — one JVM pass per document; see
    * Kernels.winnowingFps. Pass already-lowercased text. */
  def winnowingFps(t: Column, k: Int, w: Int): Column =
    kernel(ArrayType(LongType, containsNull = false), "winnowingFps",
      t, sf.lit(k), sf.lit(w))

  /** Fused content-defined chunking (LBFS boundary rule): every
    * non-empty chunk of the text as "md5hex:charLen" — one JVM pass
    * per document; see Kernels.cdcChunkIds. */
  def cdcChunkIds(t: Column, window: Int, avgChunk: Int): Column =
    kernel(ArrayType(StringType, containsNull = false), "cdcChunkIds",
      t, sf.lit(window), sf.lit(avgChunk))

  /** Per-row Gram-matrix moment terms for the PCA corpus pass (1e6
    * fixed-point first moments + upper-triangle products, one long
    * array); see Kernels.gramUpperE6. */
  def gramUpperE6(v: Column): Column =
    kernel(ArrayType(LongType, containsNull = false), "gramUpperE6",
      v.cast("array<double>"))

  /** All b Poisson(1) bootstrap multiplicities for a row id in one
    * kernel pass; see Kernels.poissonMults. */
  def poissonMults(id: Column, b: Int, thresholds: Seq[Long]): Column =
    kernel(ArrayType(LongType, containsNull = false), "poissonMults",
      id, sf.lit(b), sf.lit(thresholds.toArray))

  /** DEFLATE(level 6) compressed byte length of the text; see
    * Kernels.deflateLen. */
  def deflateLen(t: Column): Column = kernel(LongType, "deflateLen", t)

  /** FULL (unrestricted) Damerau–Levenshtein distance — transpositions
    * of adjacent characters cost 1; see Kernels.damerauLevenshtein. */
  def damerauLevenshtein(a: Column, b: Column): Column =
    kernel(LongType, "damerauLevenshtein", a, b)

  /** [|x|², |x − proj_l(x)|²] in one pass (index-order folds); see
    * Kernels.removeComponentStats. */
  def removeComponentStats(x: Column, l: Column): Column =
    kernel(ArrayType(DoubleType, containsNull = false), "removeComponentStats",
      x.cast("array<double>"), l)

  /** [|x|², Σ_j dot(x, plane_j)²] in one pass over k row-major-flat
    * hyperplanes (index-order folds); see Kernels.jlStats. */
  def jlStats(x: Column, planesFlat: Column, k: Column): Column =
    kernel(ArrayType(DoubleType, containsNull = false), "jlStats",
      x.cast("array<double>"), planesFlat, k)

  /** Engine-portable md5-60 token hash (see Kernels.tokenHash60). */
  def tokenHash60(t: Column): Column = kernel(LongType, "tokenHash60", t)

  /** Squared L2 distances to m row-major-flat reference vectors in one
    * pass (index-order sums; see Kernels.dist2ToSet). */
  def dist2ToSet(x: Column, flat: Column, m: Column): Column =
    kernel(ArrayType(DoubleType, containsNull = false), "dist2ToSet",
      x.cast("array<double>"), flat, m)

  /** Per-doc TextRank top-k as "token\trank_fx" strings (whole graph +
    * integer iteration fused; see Kernels.textRankTopK). */
  def textRankTopK(toks: Column, iters: Column, topK: Column): Column =
    kernel(ArrayType(StringType, containsNull = false), "textRankTopK",
      toks, iters, topK)

  // --------------------------------------------------------------------
  // MinHash / SimHash (pure expressions; codegen-friendly, shuffle-free)
  // --------------------------------------------------------------------
  /** k-wide MinHash signature via the universal family
    * h_i(x) = (a_i*x + b_i) mod p over 31-bit murmur3 base hashes,
    * p the largest prime below 2^31. The modulus must sit just above
    * the hash range so a_i*x wraps it many times — with a huge modulus
    * the map stays monotonic in x and every slot's argmin correlates
    * (loses near-dup recall). Kernel-backed; empty input hashes as [""]. */
  def minHashSignature(shingles: Column, k: Int): Column =
    kernel(ArrayType(LongType, containsNull = false), "minHashSignature",
      shingles, sf.lit(k))

  /** LSH band hashes straight from the shingles: k-slot signature folded
    * in bands of `rowsPerBand` consecutive slots, 32-bit values (see
    * Kernels.minHashBands). Kernel-backed. */
  def minHashBands(shingles: Column, numHashes: Int, rowsPerBand: Int): Column =
    kernel(ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false),
      "minHashBands", shingles, sf.lit(numHashes), sf.lit(rowsPerBand))

  /** 60-bit SimHash over a token array (md5-60-bit token hash, +/-1 vote
    * per bit, sign -> bit; engine-portable). Kernel-backed. */
  def simHash(tokens: Column): Column = kernel(LongType, "simHash", tokens)

  /** True iff `a(i) != b(i)` for every i < n (LSH first-witness test). */
  def prefixAllDiffer(a: Column, b: Column, n: Column): Column =
    kernel(org.apache.spark.sql.types.BooleanType, "prefixAllDiffer", a, b, n)

  /** Indices of the nProbe nearest centroids for an embedding, against
    * a flattened centroid codebook literal. Kernel-backed. */
  def nearestCentroids(v: Column, centroidsFlat: Column, dim: Column, nProbe: Column): Column =
    kernel(ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false),
      "nearestCentroids", v, centroidsFlat, dim, nProbe)

  /** Euclidean variant (asc, ties to the lower index) — the PQ
    * sub-codebook metric. */
  def nearestCentroidsL2(v: Column, centroidsFlat: Column, dim: Column, nProbe: Column): Column =
    kernel(ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false),
      "nearestCentroidsL2", v, centroidsFlat, dim, nProbe)

  /** Exact revenue price*(1-discount) in fixed-point 1e-4 units (long). */
  def revenueE4(price: Column, discount: Column): Column =
    kernel(LongType, "revenueE4", price, discount)

  /** Reinterpret a long of 1e-4 units as DECIMAL(precision, 4). */
  def e4ToDecimal(c: Column, precision: Int = 38): Column =
    GraftBridge.column(org.apache.spark.sql.catalyst.expressions.MakeDecimal(
      GraftBridge.expression(c), precision, 4))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = sf.bit_count(a.bitwiseXOR(b))

  // --------------------------------------------------------------------
  // Vector math over array<float|double> embedding columns
  // --------------------------------------------------------------------
  /** Sequential-fold dot product. Kernel-backed (tight JVM loop inside
    * codegen; the HOF spelling `aggregate(zip_with(...))` evaluates
    * interpreted with per-element lambda dispatch). */
  /** SRP band array of a double vector (Kernels.srpBands — the
    * memoized-plane twin of folding [[dot]] signs over
    * `Similarity.lshPlanes`): bucket b's bit j is dot(v, plane_{b·bits+j}) > 0. */
  def srpBands(v: Column, bands: Int, bitsPerBand: Int, seed: Int): Column =
    kernel(ArrayType(IntegerType, containsNull = false), "srpBands",
      v, sf.lit(bands), sf.lit(bitsPerBand), sf.lit(seed))

  /** Fused SRP band-explode payload (Kernels.srpBandPayload): one
    * struct (band, bh, pfx) per band, the whole banding ONE kernel
    * call per row — explode THIS instead of carrying a computed band
    * array past a Generate (which re-evaluates the banding per
    * exploded row: `bands`× the dot products). `pfx` holds the earlier
    * bands' buckets for the first-witness prefix test. */
  def srpBandPayload(v: Column, bands: Int, bitsPerBand: Int, seed: Int): Column =
    kernel(ArrayType(StructType(Seq(
      StructField("band", IntegerType, nullable = false),
      StructField("bh", IntegerType, nullable = false),
      StructField("pfx", ArrayType(IntegerType, containsNull = false),
        nullable = false))), containsNull = false),
      "srpBandPayload", v, sf.lit(bands), sf.lit(bitsPerBand), sf.lit(seed))

  def dot(a: Column, b: Column): Column =
    kernel(DoubleType, "dot", a.cast("array<double>"), b.cast("array<double>"))

  /** Hashing-trick linear score over a token array (see
    * Kernels.linearScore); `d` must equal the weight array's length. */
  def linearScore(tokens: Column, weightsFlat: Column, d: Column): Column =
    kernel(DoubleType, "linearScore", tokens, weightsFlat, d)

  /** [format, width, height] from an image container header (PNG/JPEG/
    * GIF/BMP; see Kernels.imageMeta) — real byte parsing, no codec. */
  def imageMeta(payload: Column): Column =
    kernel(ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false),
      "imageMeta", payload)

  /** [format, duration_ms, sample_rate, channels, width, height] from an
    * audio/video container header (WAV/RIFF chunk walk, MP4 box walk;
    * see Kernels.mediaMeta) — real byte parsing, no codec. */
  def mediaMeta(payload: Column): Column =
    kernel(ArrayType(org.apache.spark.sql.types.LongType, containsNull = false),
      "mediaMeta", payload)

  /** Deterministic binary-PGM payload synthesis (Kernels.pgmSynth) —
    * test/demo plumbing so the REAL decoder below has bytes to parse
    * and an oracle can recompute pixels from the same formula. */
  def pgmSynth(docId: Column, w: Column, h: Column): Column =
    kernel(org.apache.spark.sql.types.BinaryType, "pgmSynth",
      docId.cast("long"), w.cast("int"), h.cast("int"))

  /** REAL PGM (netpbm P5) decode + exact box-filter resize to tw x th
    * (Kernels.pgmResizePixels) — actual byte-level pixel decoding, no
    * library; returns the resized pixels row-major, empty on any
    * malformed payload. Requires source dims divisible by targets. */
  def pgmResizePixels(payload: Column, tw: Column, th: Column): Column =
    kernel(ArrayType(IntegerType, containsNull = false), "pgmResizePixels",
      payload, tw.cast("int"), th.cast("int"))

  /** Deterministic binary-PGM synthesis with a MIXING pixel formula
    * (Kernels.pgmSynthMix) — doc images are mutually uncorrelated, and
    * `perturb` plants a near-duplicate copy confined to one resize
    * block. Test/demo plumbing for the perceptual-hash dedup path. */
  def pgmSynthMix(docId: Column, w: Column, h: Column, perturb: Column): Column =
    kernel(org.apache.spark.sql.types.BinaryType, "pgmSynthMix",
      docId.cast("long"), w.cast("int"), h.cast("int"), perturb.cast("boolean"))

  /** Wraparound 64-bit difference hash over a row-major pixel grid
    * (Kernels.dhash64): bit r*w+c = px(r,c) > px(r,(c+1) mod w). Pair
    * with [[pgmResizePixels]]; guard on `size(px) = w*h` — the kernel
    * returns 0 for wrong-size (malformed-payload) grids. */
  def dhash64(px: Column, w: Column, h: Column): Column =
    kernel(org.apache.spark.sql.types.LongType, "dhash64",
      px, w.cast("int"), h.cast("int"))

  /** Deterministic 16-bit mono PCM WAV synthesis (Kernels.wavSynth) —
    * the audio twin of [[pgmSynth]]. */
  def wavSynth(docId: Column, nSamples: Column, sampleRate: Column): Column =
    kernel(org.apache.spark.sql.types.BinaryType, "wavSynth",
      docId.cast("long"), nSamples.cast("int"), sampleRate.cast("int"))

  /** [[wavSynth]] with a one-frame perturbation knob
    * (Kernels.wavSynthMix) — plants an audio near-duplicate for the
    * perceptual-hash dedup path. */
  def wavSynthMix(docId: Column, nSamples: Column, sampleRate: Column,
                  perturb: Column): Column =
    kernel(org.apache.spark.sql.types.BinaryType, "wavSynthMix",
      docId.cast("long"), nSamples.cast("int"), sampleRate.cast("int"),
      perturb.cast("boolean"))

  /** REAL WAV-PCM decode to per-frame mean absolute amplitudes
    * (Kernels.wavFrameAbsMeans) — the audio envelope profile feeding
    * [[dhash64]] (h = 1) for perceptual audio dedup; empty array on
    * malformed/indivisible payloads. */
  def wavFrameAbsMeans(payload: Column, nFrames: Column): Column =
    kernel(ArrayType(IntegerType, containsNull = false), "wavFrameAbsMeans",
      payload, nFrames.cast("int"))

  /** REAL WAV-PCM decode (Kernels.wavPcmStats) — actual byte-level
    * sample decoding, no library: RIFF chunk walk + int16 sample scan.
    * Returns [n_samples, sample_rate, channels, peak, sum_sq]; empty
    * on malformed/non-PCM16 payloads. */
  def wavPcmStats(payload: Column): Column =
    kernel(ArrayType(LongType, containsNull = false), "wavPcmStats", payload)

  /** popcount(a AND b) over equal-width long bitmask arrays
    * (Kernels.maskAndPopcount) — exact set-intersection size for
    * vocabulary-bitmask-encoded sets. */
  def maskAndPopcount(a: Column, b: Column): Column =
    kernel(LongType, "maskAndPopcount", a, b)

  /** [n_match_occurrences, n_distinct_patterns] of every pattern over
    * the text in ONE pass (Kernels.multiMatch — a per-plan-memoized
    * Aho–Corasick automaton): O(chars + matches) regardless of list
    * size, the property that makes a 100k-phrase blocklist a single
    * scan instead of 100k contains() probes. All end positions count
    * (overlapping/nested matches included); case-sensitive — callers
    * normalize both sides. `patterns` must be FOLDABLE (a literal
    * array): the automaton memo's identity fast path is only sound for
    * a stable plan literal — a per-row patterns column would both
    * rebuild the automaton per row and risk stale identity hits on
    * re-pointed row buffers, so it is rejected at construction. */
  def multiMatch(text: Column, patterns: Column): Column = {
    require(GraftBridge.isConstant(patterns),
      "multiMatch: patterns must be a literal/foldable array expression " +
      "(e.g. lit(Array(...)), typedlit(Seq(...)), array(lit(...))); a " +
      "per-row patterns column is not supported")
    kernel(ArrayType(org.apache.spark.sql.types.LongType, containsNull = false),
      "multiMatch", text, patterns)
  }

  /** Typed PII signals (Kernels.piiSignals — portable structural
    * definitions, no regex dialects): [n_email_tokens, n_ipv4_tokens,
    * n_phone_runs, n_card_candidates, n_luhn_valid]. */
  def piiSignals(text: Column): Column =
    kernel(ArrayType(LongType, containsNull = false), "piiSignals", text)

  /** zlib-deflate compressed-size ratio (Kernels.deflateRatio) — the
    * Gopher/RefinedWeb compressibility quality signal: low = templated
    * repetition, near 1 = high-entropy noise. No SQL-engine twin
    * exists (zlib), so queries built on it are rows-only at the gate;
    * the property spec pins the behavior instead. */
  def deflateRatio(text: Column): Column =
    kernel(DoubleType, "deflateRatio", text)

  /** FastSS k-deletion neighborhood of a string (Kernels
    * .deletionVariants) — the blocking key set for edit-distance
    * similarity joins. */
  def deletionVariants(s: Column, k: Column): Column =
    kernel(ArrayType(StringType, containsNull = false), "deletionVariants", s, k)

  /** URL decomposition as a 7-slot string array: [scheme, host, port,
    * path, query, fragment, registered_domain] (Kernels.urlParts —
    * pure char arithmetic inside whole-stage codegen, zero regex).
    * Malformed / relative URLs decompose to all nulls: the nulls ARE
    * the malformed flag. Use [[urlPart]] for named access. */
  def urlParts(url: Column): Column =
    kernel(ArrayType(StringType, containsNull = true), "urlParts", url)

  private val UrlSlots = Seq("scheme", "host", "port", "path", "query",
    "fragment", "registered_domain")

  /** One named component of [[urlParts]] (`scheme`/`host`/`port`/
    * `path`/`query`/`fragment`/`registered_domain`). Catalyst
    * common-subexpression-eliminates repeated urlParts calls over the
    * same input, so selecting several parts still parses once. */
  def urlPart(url: Column, part: String): Column = {
    val i = UrlSlots.indexOf(part)
    require(i >= 0, s"unknown url part '$part' (one of ${UrlSlots.mkString(", ")})")
    urlParts(url).getItem(i)
  }

  /** Cosine similarity; inputs cast to array<double> so Spark and any
    * double-precision oracle agree bit-for-bit on the products. A native
    * Catalyst expression (graft.plans.CosineSimilarity): doGenCode
    * inlines the loop into whole-stage codegen; interpreted eval is the
    * same kernel (sequential accumulation, oracle-parity order). */
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(graft.plans.CosineSimilarity(
      GraftBridge.expression(a.cast("array<double>")),
      GraftBridge.expression(b.cast("array<double>"))))

  /** Unicode normalization (NFC/NFKC/NFD/NFKD) — native expression
    * (graft.plans.UnicodeNormalize); the standard algorithm, so any
    * conformant engine (DuckDB nfc_normalize, ICU) replays it. */
  def unicodeNormalize(c: Column, form: String = "NFKC"): Column =
    GraftBridge.column(graft.plans.UnicodeNormalize(
      GraftBridge.expression(c), form))

  // --------------------------------------------------------------------
  // Language ID (stopword-hit heuristic, pure expressions)
  // --------------------------------------------------------------------
  val stopwords: Map[String, Seq[String]] = Kernels.stopwords

  /** Count of tokens (with multiplicity) in `lang`'s stopword list. */
  def stopwordCount(tokens: Column, lang: Column): Column =
    kernel(org.apache.spark.sql.types.IntegerType, "stopwordCount", tokens, lang)

  /** Predicted language = argmax over per-language distinct stopword hits.
    * Ties break toward the lexicographically larger code (struct max). */
  def langId(t: Column): Column = langIdTokens(wsTokens(sf.lower(t)))

  /** [[langId]] over an already-tokenized array (e.g. one chunk of a
    * document) — same distinct-hit scoring and tie-break. */
  def langIdTokens(tokens: Column): Column = {
    val toks = sf.array_distinct(tokens)
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      sf.struct(
        sf.size(sf.array_intersect(toks, sf.array(sw.map(sf.lit): _*))).as("score"),
        sf.lit(lang).as("lang"))
    }
    sf.array_max(sf.array(scored: _*)).getField("lang")
  }
}
