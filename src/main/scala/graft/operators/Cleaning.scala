package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => sf}
import graft.{functions => gf}

/** Row/column cleaning operators (reference fact_I94 + dims prep:
  * etl.py:139-186, 188-256, 565-585). All operate on the logical plan —
  * null drops and filters push down to the scan.
  */
object Cleaning {

  /** Drop rows with a null in any of `subset` (all columns if empty). */
  def dropNullsAny(df: DataFrame, subset: String*): DataFrame =
    if (subset.isEmpty) df.na.drop("any") else df.na.drop(subset)

  /** Drop rows that are entirely null (reference dropna(how="all")). */
  def dropNullsAll(df: DataFrame): DataFrame = df.na.drop("all")

  def fillNulls(df: DataFrame, value: Any, cols: Seq[String] = Nil): DataFrame = {
    val target = if (cols.isEmpty) df.columns.toSeq else cols
    value match {
      case v: Long   => df.na.fill(v, target)
      case v: Int    => df.na.fill(v.toLong, target)
      case v: Double => df.na.fill(v, target)
      case v: String => df.na.fill(v, target)
      case other => throw new IllegalArgumentException(s"unsupported fill: $other")
    }
  }

  def dedupRows(df: DataFrame, subset: Seq[String] = Nil): DataFrame =
    if (subset.isEmpty) df.dropDuplicates() else df.dropDuplicates(subset)

  /** Keep rows whose lowercased `col` contains none of `patterns`
    * (reference i94cit_res cleanup, etl.py:324-327). */
  def excludePatterns(df: DataFrame, colName: String, patterns: Seq[String]): DataFrame =
    patterns.foldLeft(df)((d, p) => d.filter(!sf.lower(sf.col(colName)).contains(p)))

  /** Bulk-cast columns: name -> target type DDL string. */
  def castCols(df: DataFrame, casts: (String, String)*): DataFrame =
    df.select(df.columns.map { c =>
      casts.collectFirst { case (`c`, t) => sf.col(c).cast(t).as(c) }
        .getOrElse(sf.col(c))
    }.toIndexedSeq: _*)

  /** PII patterns for `scrubPii` — RE2-compatible (no backreferences),
    * so the same literals run in Java regex and in SQL engines. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Scrub emails / phone numbers / IPv4 addresses from a text column:
    * replaces each match with a typed placeholder and reports per-kind
    * match counts. Map-only — runs at scan speed at any scale. Order
    * matters (emails first: a phone regex must not fire inside an
    * already-replaced span); counts are measured on the ORIGINAL text. */
  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    val scrubbed = piiPatterns.foldLeft(sf.col(textCol)) {
      case (c, (_, pat, repl)) => sf.regexp_replace(c, pat, repl)
    }
    val withCounts = piiPatterns.foldLeft(df.withColumn("__scrubbed", scrubbed)) {
      case (d, (kind, pat, _)) =>
        d.withColumn(s"n_$kind",
          sf.size(sf.regexp_extract_all(sf.col(textCol), sf.lit(pat), sf.lit(0))))
    }
    withCounts.withColumn(textCol, sf.col("__scrubbed")).drop("__scrubbed")
  }

  /** Corpus snapshot diff: classify every document across two corpus
    * versions as added / removed / changed / unchanged by key and
    * content digest — the audit between ingest runs (how much churned?)
    * and the input to incremental reprocessing (only `added`+`changed`
    * re-enter the pipeline).
    *
    * Scale shape: both sides reduce to (key, md5) BEFORE the full outer
    * join, so the join carries two digests per document, never text;
    * the join is key-partitioned hash — no skew beyond the key's own.
    * Row-level output composes (filter status != 'unchanged');
    * `corpusDiffSummary` reduces it to four counts. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    // presence markers, not digest nullity, decide added/removed: a NULL
    // text digests to NULL and must not masquerade as an absent row
    def digest(df: DataFrame, fp: String, m: String) =
      df.select(sf.col(idCol).cast("long").as(idCol),
        sf.md5(sf.col(textCol).cast("binary")).as(fp), sf.lit(1).as(m))
    digest(oldDf, "__old", "__mo")
      .join(digest(newDf, "__new", "__mn"), Seq(idCol), "full_outer")
      .select(sf.col(idCol),
        sf.when(sf.col("__mo").isNull, "added")
          .when(sf.col("__mn").isNull, "removed")
          .when(!(sf.col("__old") <=> sf.col("__new")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Four-row churn summary of [[corpusDiff]]. */
  def corpusDiffSummary(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    corpusDiff(oldDf, newDf, idCol, textCol)
      .groupBy("status").agg(sf.count(sf.lit(1)).as("n_docs"))
      .orderBy("status")

  /** WITHIN-document repeated-line collapse (the CCNet/RefinedWeb
    * boilerplate step: navbars, cookie banners, and signatures repeat
    * inside a page; keep the FIRST occurrence of each distinct line,
    * preserving order). Complements [[graft.operators.Dedup
    * .lineDedupKeepFirst]], which dedups lines ACROSS the corpus:
    * this one never leaves the row, so it is map-only — no shuffle,
    * no state, embarrassingly parallel at any corpus size. Per-doc
    * cost is O(lines²) string compares via `array_position` (first
    * index of each line); documents are short enough that this beats
    * paying a per-doc hash-set UDF's codegen break.
    *
    * Output: (doc_id, n_lines, n_kept, clean_text), ordered by id.
    * Null text propagates as null (absent content, not an empty doc).
    */
  def dedupDocLines(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(sf.col(idCol).cast("long").as("doc_id"),
        sf.split(sf.col(textCol), "\n", -1).as("__l"))
      .select(sf.col("doc_id"),
        sf.size(sf.col("__l")).cast("long").as("n_lines"),
        // keep line x at 0-based index i iff i is x's first occurrence
        sf.filter(sf.col("__l"),
          (x, i) => sf.array_position(sf.col("__l"), x) === i + 1).as("__k"))
      .select(sf.col("doc_id"), sf.col("n_lines"),
        sf.size(sf.col("__k")).cast("long").as("n_kept"),
        sf.array_join(sf.col("__k"), "\n").as("clean_text"))
      .orderBy("doc_id")

  /** Text normalization (the first pass of every curation pipeline):
    * strip non-printing control characters (keeping newline and tab),
    * turn tabs into spaces, collapse space runs, strip spaces hugging
    * newlines, collapse 3+ blank-line runs to one blank line, and trim.
    * Idempotent (normalize(normalize(x)) == normalize(x)) and map-only
    * — runs at scan speed, no shuffle, the same regexes replay in any
    * RE2/Java-regex engine.
    *
    * Output: (doc_id, clean_text, n_chars_raw, n_chars_norm). Null text
    * propagates as null with null counts (absent content, not empty).
    */
  /** The [[normalizeText]] cleaning chain as a bare column expression —
    * map-only, so pipeline composers (e.g. Pipeline.curationPlan) can
    * compute it inline next to the columns they carry instead of
    * re-attaching the operator's output with a doc_id join (which
    * shuffles the full text bytes for what is a per-row function). */
  private[operators] def normalizeTextExpr(t0: Column): Column = {
    val noCtl = sf.regexp_replace(t0, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val tabs = sf.regexp_replace(noCtl, "\\t", " ")
    val spaces = sf.regexp_replace(tabs, "  +", " ")
    val hug = sf.regexp_replace(spaces, " *\\n *", "\n")
    val blanks = sf.regexp_replace(hug, "\\n\\n\\n+", "\n\n")
    sf.trim(blanks)
  }

  def normalizeText(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = sf.col(textCol)
    docs.select(sf.col(idCol).cast("long").as("doc_id"),
        normalizeTextExpr(t0).as("clean_text"),
        sf.length(t0).cast("long").as("n_chars_raw"))
      .withColumn("n_chars_norm", sf.length(sf.col("clean_text")).cast("long"))
      .orderBy("doc_id")
  }

  /** Encoding-damage audit: the map-only DQ pass that catches text
    * that survived ingestion with broken bytes — scraped corpora are
    * full of it and every downstream hash/dedup/LM signal silently
    * degrades on it. Counted per document:
    *   n_replacement — U+FFFD replacement chars (decoder already gave up);
    *   n_control     — C0/DEL control chars other than \t \n \r;
    *   n_mojibake    — UTF-8-read-as-Latin-1 artifacts: 'Ã'/'Â'
    *                   followed by a Latin-1 CONTINUATION char
    *                   (U+0080–U+00BF — what a stray UTF-8 trail byte
    *                   decodes to), and the 'â€' sequence (curly
    *                   quotes/dashes double-encoded). The two-byte
    *                   signature matters: bare 'Ã'/'Â' are legitimate
    *                   in Portuguese/French text ('São', 'Âge') and
    *                   counting them alone false-flags clean docs;
    *   n_nbsp        — U+00A0 non-breaking spaces (HTML residue).
    * `suspect_ratio` = damaged / n_chars (1e-6-rounded) and
    * `flag_encoding` = any damage present — route to re-decode or drop.
    *
    * Determinism: integer regexp counts + one division, identical in
    * any regex engine. Scale shape: map-only, zero shuffles. */
  def encodingAudit(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = sf.col(textCol)
    def cnt(pattern: String) = sf.regexp_count(t, sf.lit(pattern)).cast("long")
    val nRepl = cnt("\\uFFFD")
    val nCtl = cnt("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]")
    val nMoji = cnt("[\\u00C3\\u00C2][\\u0080-\\u00BF]|\\u00E2\\u20AC")
    val nNbsp = cnt("\\u00A0")
    val damaged = sf.col("n_replacement") + sf.col("n_control") + sf.col("n_mojibake")
    docs.select(sf.col(idCol).cast("long").as("doc_id"),
        sf.length(t).cast("long").as("n_chars"),
        nRepl.as("n_replacement"), nCtl.as("n_control"),
        nMoji.as("n_mojibake"), nNbsp.as("n_nbsp"))
      .select(sf.col("doc_id"), sf.col("n_chars"), sf.col("n_replacement"),
        sf.col("n_control"), sf.col("n_mojibake"), sf.col("n_nbsp"),
        gf.roundAt(sf.when(sf.col("n_chars") > 0,
          damaged.cast("double") / sf.col("n_chars").cast("double")), 6)
          .as("suspect_ratio"),
        (damaged > 0).as("flag_encoding"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------------
  // URL / host-level curation (the DataComp/RefinedWeb first pass)
  // --------------------------------------------------------------------

  /** Registered-domain rollup over a URL column — the host-level
    * datasheet web curation reads before any text signal: per eTLD+1,
    * how many URLs, how many distinct hosts, the https share, and the
    * malformed count bucketed under the NULL domain row. Rows order by
    * volume (desc) then domain, so the head IS the "who dominates this
    * crawl" readout.
    *
    * Scale shape: urlParts is a map-only codegen kernel; ONE
    * map-side-combined groupBy on the registered-domain DOMAIN (far
    * smaller than the URL stream); distinct hosts per domain via an
    * exact count_distinct inside the same aggregation (hosts per
    * domain is small; for adversarial domains swap
    * approx_count_distinct — same plan shape). */
  def hostProfile(df: DataFrame, urlCol: String): DataFrame = {
    val p = gf.urlParts(sf.col(urlCol))
    df.select(p.getItem(0).as("scheme"), p.getItem(1).as("host"),
        p.getItem(6).as("registered_domain"))
      .groupBy("registered_domain")
      .agg(sf.count(sf.lit(1)).as("n_urls"),
        sf.count_distinct(sf.col("host")).as("n_hosts"),
        gf.roundAt(sf.sum(sf.when(sf.col("scheme") === "https", 1L)
          .otherwise(0L)).cast("double") / sf.count(sf.lit(1)).cast("double"), 6)
          .as("https_frac"))
      .orderBy(sf.col("n_urls").desc, sf.col("registered_domain"))
  }

  /** Domain blocklist tagging: flags rows whose registered domain OR
    * exact host appears in `blocked` (lowercased match — hosts are
    * case-insensitive). The blocklist is a broadcast literal set
    * (curation blocklists are ~1e4-1e6 entries: a plan literal up to
    * ~1e4, a broadcast join table beyond — this is the literal path;
    * the join path is `df.join(broadcast(blockedDf), ..., "left_anti")`
    * with the same keys). Map-only, zero shuffles.
    *
    * Malformed URLs (null host) are NOT blocked — route them through
    * [[hostProfile]]'s NULL-domain row / a null-host filter instead,
    * so "broken" and "banned" stay separate decisions. */
  def urlBlocklistFlag(df: DataFrame, urlCol: String,
                       blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "blocklist is empty")
    val bl = blocked.map(_.toLowerCase(java.util.Locale.ROOT))
    val p = gf.urlParts(sf.col(urlCol))
    val host = p.getItem(1)
    val dom = p.getItem(6)
    df.withColumn("flag_blocked",
      sf.coalesce(host.isin(bl: _*) || dom.isin(bl: _*), sf.lit(false)))
  }

  /** URL-level exact dedup, keep-first: one row per NORMALIZED URL —
    * scheme+host lowercased (kernel does that), default ports dropped
    * (:80 http / :443 https), fragment dropped (never sent to the
    * server), empty path → "/", query kept verbatim (it addresses
    * content). Survivor = min `idCol` per key, the deterministic
    * canonical-select shape shared with latestSnapshot.
    *
    * Scale shape: map-only normalization, then ONE key-keyed
    * min-struct aggregation (map-side combinable) — the exact-dedup
    * plan; no windows, no sort. Malformed URLs (null host) keep their
    * raw string as the key so they dedup among themselves without
    * colliding into one bucket. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val p = gf.urlParts(sf.col(urlCol))
    val scheme = p.getItem(0); val host = p.getItem(1); val port = p.getItem(2)
    val path = p.getItem(3); val query = p.getItem(4)
    val keepPort = sf.when(port.isNull, sf.lit(null))
      .when(scheme === "http" && port === "80", sf.lit(null))
      .when(scheme === "https" && port === "443", sf.lit(null))
      .otherwise(port)
    val norm = sf.concat_ws("", scheme, sf.lit("://"), host,
      sf.when(keepPort.isNotNull, sf.concat(sf.lit(":"), keepPort)).otherwise(sf.lit("")),
      sf.coalesce(path, sf.lit("/")),
      sf.when(query.isNotNull, sf.concat(sf.lit("?"), query)).otherwise(sf.lit("")))
    val key = sf.when(host.isNull, sf.col(urlCol)).otherwise(norm)
    df.withColumn("__k", key)
      .groupBy("__k")
      .agg(sf.min(sf.struct(sf.col(idCol), sf.col(urlCol))).as("__m"))
      .select(sf.col("__m")(idCol).as(idCol), sf.col("__m")(urlCol).as(urlCol),
        sf.col("__k").as("url_normalized"))
      .orderBy(idCol)
  }
}
