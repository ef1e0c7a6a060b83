package graft.dq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => sf}
import graft.sources.Tables
import graft.{functions => gf}
import graft.functions.dec

/** Data-quality checks (reference etl.py:490-594) as *queries* returning
  * DataFrames rather than driver-side booleans — composable, and the
  * counts are distributed aggregations (no collect of data rows).
  */
object QualityChecks {

  /** (table_name, row_count) for each table — reference
    * validate_model_row_count. */
  def rowCounts(spark: SparkSession, dir: String,
                tables: Seq[String] = Tables.names): DataFrame =
    tables.map { t =>
      Tables.load(spark, dir, t)
        .agg(sf.count(sf.lit(1)).as("row_count"))
        .select(sf.lit(t).as("table_name"), sf.col("row_count"))
    }.reduce(_ union _).orderBy("table_name")

  /** Unique-key audit: total vs distinct key count per table — reference
    * validate_model_unique_keys. */
  def uniqueKey(spark: SparkSession, dir: String,
                specs: Seq[(String, Seq[String])]): DataFrame =
    specs.map { case (t, keys) =>
      Tables.load(spark, dir, t)
        .agg(
          sf.count(sf.lit(1)).as("total_rows"),
          sf.count_distinct(sf.col(keys.head), keys.tail.map(sf.col): _*)
            .as("distinct_keys"))
        .select(
          sf.lit(t).as("table_name"), sf.col("total_rows"), sf.col("distinct_keys"),
          (sf.col("total_rows") === sf.col("distinct_keys")).cast("int").as("is_unique"))
    }.reduce(_ union _).orderBy("table_name")

  /** Single-pass column profile: null count and distinct count per
    * column. One scan regardless of column count (all aggregates in one
    * HashAggregate), then the wide row is exploded to one row per
    * column. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      sf.sum(sf.col(c).isNull.cast("long")).as(s"__n_$c"),
      sf.count_distinct(sf.col(c)).as(s"__d_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*)
    row.select(sf.explode(sf.array(cols.map(c => sf.struct(
        sf.lit(c).as("column_name"),
        sf.col(s"__n_$c").as("n_nulls"),
        sf.col(s"__d_$c").as("n_distinct"))): _*)).as("s"))
      .select("s.*")
      .orderBy("column_name")
  }

  /** Exact quantile profile of a numeric column per group: min, p25,
    * median, p75, p95, max (linear interpolation at rank (n-1)*p, the
    * quantile_cont convention).
    *
    * Scale design: Spark's `percentile` aggregate buffers EVERY value of
    * a group in executor memory — a 100 TB group is an OOM, not a
    * profile. This implementation compresses to distinct (group, value)
    * pairs first (map-side partial counts make that shuffle proportional
    * to the value DOMAIN, not the row count), then ranks value runs with
    * one cumulative-sum window per group. Each distinct value covers the
    * in-group rank interval [hi-c, hi-1]; only the ~2 runs straddling
    * each requested rank survive the filter, and the interpolation is a
    * tiny per-group aggregation. For groups whose value domain is itself
    * too large for a per-group sort, use `approx_percentile` sketches —
    * this is the audit-grade exact variant. */
  def quantileProfile(df: DataFrame, groupCol: String, valueCol: String,
                      ps: Seq[(String, Double)] = Seq(
                        "p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Eager localCheckpoint: both the rank window and the group totals
    // read the distinct-value aggregation — without materialization it
    // would run twice. (An explicit persist() here leaked: nothing ever
    // unpersisted it; checkpoint blocks are dropped when the RDD is
    // GC'd, so the lifetime is managed.)
    // spread before the partial aggregation: a single-file local scan
    // is ONE task and the map-side distinct-value compression is the
    // CPU-heavy step (no-op on real multi-split inputs)
    val counts = graft.operators.Par.spread(
        df.select(sf.col(groupCol), sf.col(valueCol).cast("double").as("__v")))
      .filter(sf.col("__v").isNotNull)
      .groupBy(groupCol, "__v")
      .agg(sf.count(sf.lit(1)).as("__c"))
      .localCheckpoint(true)
    val cumW = Window.partitionBy(groupCol).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Group totals via a one-row-per-group aggregate + equi-join, NOT an
    // unordered whole-partition window — that frame buffers the entire
    // partition per row batch; the running-frame window below streams.
    // The join is left to AQE: it broadcasts when the group cardinality
    // is small and falls back to a shuffle join when this function's
    // high-cardinality use would make a forced broadcast a driver OOM.
    // Null-safe equality (<=>): a NULL group is a legitimate group and
    // keeps its profile row.
    val totals = counts.groupBy(groupCol).agg(sf.sum("__c").as("__n"))
      .withColumnRenamed(groupCol, "__g")
    val ranked = counts
      .withColumn("__hi", sf.sum("__c").over(cumW))
      .join(totals, sf.col(groupCol) <=> sf.col("__g"))
      .drop("__g")
    val lo = sf.col("__hi") - sf.col("__c") // first in-group rank of this value run
    val hi = sf.col("__hi") - 1             // last in-group rank of this value run
    val n = sf.col("__n")
    def pos(p: Double) = (n - 1).cast("double") * sf.lit(p)
    def covers(r: Column) = lo <= r && r <= hi
    // Keep only the runs covering rank 0, rank n-1, and the two ranks
    // straddling each requested quantile position.
    val wanted = ps.map { case (_, p) =>
      covers(sf.floor(pos(p))) || covers(sf.ceil(pos(p)))
    }.reduce(_ || _) || covers(sf.lit(0L)) || covers(n - 1)
    val aggs =
      Seq(gf.roundAt(sf.min(sf.when(covers(sf.lit(0L)), sf.col("__v"))), 4).as("v_min")) ++
      ps.flatMap { case (name, p) => Seq(
        sf.min(sf.when(covers(sf.floor(pos(p))), sf.col("__v"))).as(s"__lo_$name"),
        sf.min(sf.when(covers(sf.ceil(pos(p))), sf.col("__v"))).as(s"__hi_$name"))
      } ++
      Seq(gf.roundAt(sf.max(sf.when(covers(n - 1), sf.col("__v"))), 4).as("v_max"),
        sf.max(n).as("__nn"))
    val agged = ranked.filter(wanted)
      .groupBy(sf.col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
    val nOut = sf.col("__nn")
    def posOut(p: Double) = (nOut - 1).cast("double") * sf.lit(p)
    agged.select(
      Seq(sf.col(groupCol), sf.col("v_min")) ++
      ps.map { case (name, p) =>
        // lower + (upper-lower) * fractional-rank: the quantile_cont
        // interpolation, evaluated in the same double operation order
        gf.roundAt(sf.col(s"__lo_$name") +
          (sf.col(s"__hi_$name") - sf.col(s"__lo_$name")) *
            (posOut(p) - sf.floor(posOut(p))), 4).as(name)
      } ++
      Seq(sf.col("v_max")): _*)
      .orderBy(groupCol)
  }

  /** Sketch-based quantile profile (Greenwald-Khanna via Spark's
    * `approx_percentile`): the routine-monitoring variant of
    * `quantileProfile` — one pass, bounded memory per group regardless
    * of the value domain, rank error <= 1/accuracy. Same output shape
    * as the exact profile so dashboards can swap them. */
  def approxQuantileProfile(df: DataFrame, groupCol: String, valueCol: String,
                            accuracy: Int = 10000): DataFrame = {
    val v = sf.col(valueCol).cast("double")
    val ps = sf.percentile_approx(v,
      sf.array(sf.lit(0.25), sf.lit(0.5), sf.lit(0.75), sf.lit(0.95)),
      sf.lit(accuracy))
    df.filter(v.isNotNull)
      .groupBy(groupCol)
      .agg(gf.roundAt(sf.min(v), 4).as("v_min"), ps.as("__ps"),
        gf.roundAt(sf.max(v), 4).as("v_max"))
      .select(sf.col(groupCol), sf.col("v_min"),
        gf.roundAt(sf.col("__ps").getItem(0), 4).as("p25"),
        gf.roundAt(sf.col("__ps").getItem(1), 4).as("p50"),
        gf.roundAt(sf.col("__ps").getItem(2), 4).as("p75"),
        gf.roundAt(sf.col("__ps").getItem(3), 4).as("p95"),
        sf.col("v_max"))
      .orderBy(groupCol)
  }

  /** Sketch-based distinct counts (HyperLogLog++): the 100 TB-scale
    * variant of the unique-key audit — constant memory per column. */
  def approxDistinct(df: DataFrame, cols: Seq[String], rsd: Double = 0.02): DataFrame = {
    val aggs = cols.map(c => sf.approx_count_distinct(sf.col(c), rsd).as(s"__$c"))
    df.agg(aggs.head, aggs.tail: _*)
      .select(sf.explode(sf.array(cols.map(c => sf.struct(
        sf.lit(c).as("column_name"), sf.col(s"__$c").as("approx_distinct"))): _*)).as("s"))
      .select("s.*")
      .orderBy("column_name")
  }

  /** Referential-integrity audit: rows of the child table whose foreign
    * key has no match in the parent (left_anti join — at scale this is
    * the same shuffle as the equi-join itself; a broadcast parent makes
    * it map-only). One row per declared relationship.
    *
    * NULL semantics pinned explicitly: a NULL foreign key means "no
    * reference", not an orphan, so NULL fks are filtered before the
    * anti join. (Unfiltered, left_anti counts NULL fks as orphans while
    * a NOT IN oracle's three-valued logic excludes them — the two sides
    * would diverge on any corpus with NULL fks.) */
  def fkOrphans(spark: SparkSession, dir: String,
                specs: Seq[(String, String, String, String)]): DataFrame =
    specs.map { case (child, fk, parent, pk) =>
      Tables.load(spark, dir, child)
        .filter(sf.col(fk).isNotNull)
        .join(Tables.load(spark, dir, parent),
          sf.col(fk) === sf.col(pk), "left_anti")
        .agg(sf.count(sf.lit(1)).as("orphans"))
        .select(sf.lit(s"$child.$fk -> $parent.$pk").as("relationship"),
          sf.col("orphans"))
    }.reduce(_ union _).orderBy("relationship")

  /** Count of rows violating an invariant — reference
    * validate_country_data (expects 0). */
  def predicateViolations(df: DataFrame, checkName: String, invariant: Column): DataFrame =
    df.filter(!invariant)
      .agg(sf.count(sf.lit(1)).as("violations"))
      .select(sf.lit(checkName).as("check_name"), sf.col("violations"))

  /** k-anonymity audit: how exposed are rows whose quasi-identifier
    * combination (zip+age+gender-style) is shared by fewer than k rows?
    * Returns one summary row — group counts, the under-k group count,
    * the rows at re-identification risk, and the smallest group — the
    * release gate a privacy review reads before a dataset ships.
    *
    * Scale shape: one map-side-combined groupBy over the quasi columns
    * (intermediate sized by the quasi-combination DOMAIN), then a tiny
    * second aggregate over the group-size table. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2, "need quasi columns and k >= 2")
    df.groupBy(quasiCols.map(sf.col): _*)
      .agg(sf.count(sf.lit(1)).as("__cnt"))
      .agg(sf.count(sf.lit(1)).as("n_groups"),
        sf.sum((sf.col("__cnt") < k).cast("long")).as("n_small_groups"),
        sf.sum(sf.when(sf.col("__cnt") < k, sf.col("__cnt")).otherwise(0L))
          .as("rows_at_risk"),
        sf.min("__cnt").as("min_group_size"))
      .select(sf.lit(quasiCols.mkString(",")).as("quasi_cols"),
        sf.lit(k).as("k"), sf.col("n_groups"), sf.col("n_small_groups"),
        sf.col("rows_at_risk"), sf.col("min_group_size"))
  }

  /** Distinct l-diversity audit (Machanavajjhala et al. 2006) — the
    * gap k-anonymity leaves open: a group can be large AND still leak
    * when every member shares the same sensitive value (the homogeneity
    * attack). For each quasi-identifier group, the number of DISTINCT
    * sensitive values; groups below `l` violate. One release-gate row:
    * group count, violating groups, rows in them, and the worst
    * (minimum) diversity observed.
    *
    * Scale shape: one map-side-combined groupBy over (quasi, sensitive)
    * — intermediate sized by that DOMAIN — then a domain-sized rollup
    * to groups, then a one-row aggregate. Never sorts, never windows. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitive: org.apache.spark.sql.Column, l: Long): DataFrame = {
    require(quasiCols.nonEmpty && l >= 2, "need quasi columns and l >= 2")
    val cells = df.groupBy((quasiCols.map(sf.col) :+ sensitive.as("__s")): _*)
      .agg(sf.count(sf.lit(1)).as("__cnt"))
    cells.groupBy(quasiCols.map(sf.col): _*)
      .agg(sf.count(sf.lit(1)).as("__div"), sf.sum("__cnt").as("__rows"))
      .agg(sf.count(sf.lit(1)).as("n_groups"),
        sf.sum((sf.col("__div") < l).cast("long")).as("n_violating"),
        sf.sum(sf.when(sf.col("__div") < l, sf.col("__rows")).otherwise(0L))
          .cast("long").as("rows_at_risk"),
        sf.min("__div").as("min_diversity"))
      .select(sf.lit(quasiCols.mkString(",")).as("quasi_cols"),
        sf.lit(l).as("l"), sf.col("n_groups"), sf.col("n_violating"),
        sf.col("rows_at_risk"), sf.col("min_diversity"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) — the
    * third rung of the privacy ladder after [[kAnonymity]] (group
    * size) and [[lDiversity]] (distinct sensitive values): a group can
    * be k-anonymous AND l-diverse while its sensitive DISTRIBUTION
    * still leaks (90% one disease vs 10% globally). t-closeness bounds
    * the distance between each quasi-identifier class's sensitive
    * distribution and the global one; for a categorical sensitive
    * attribute the standard ground distance is total variation:
    *
    *   t_class = ½ Σ_v |p_class(v) − p_global(v)|
    *
    * including the absent-value mass (a class missing a globally
    * common value leaks too).
    *
    * Determinism: with c_cv, c_c, g_v, N exact integer counts, each
    * class's TV reduces to the single exact rational
    * (Σ_present |c_cv·N − g_v·c_c| + (N − Σ_present g_v)·c_c) /
    * (2·c_c·N) — numerators accumulate as DECIMAL(38,0) (products
    * square the corpus), ONE double division per class rounded 1e-6,
    * then an exact summary rollup (violations compare the 1e-6-rounded
    * t to the threshold — the documented grid).
    *
    * Scale shape: one (quasi, sensitive)-cell collapse (map-side
    * combinable, domain-sized), two margin rollups, one cell-to-margin
    * equi join + a broadcast one-row N — no windows, no row-level
    * shuffle beyond the cell collapse. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitive: Column, t: Double): DataFrame = {
    require(quasiCols.nonEmpty && t > 0 && t < 1,
      "need quasi columns and t in (0, 1)")
    // COMPLETE-CASE semantics, made explicit (r9 ADVICE): a row whose
    // sensitive value is NULL carries no distribution information, so
    // it is excluded from classes AND margins up front — otherwise the
    // equi join below would silently count NULL mass as "absent"
    // (inflating t) and drop all-NULL classes from n_groups. A caller
    // who wants NULL as a real category coalesces to a sentinel first.
    val cells = df.filter(sensitive.isNotNull)
      .groupBy((quasiCols.map(sf.col) :+ sensitive.as("__s")): _*)
      .agg(sf.count(sf.lit(1)).as("__cv"))
      .localCheckpoint(true) // class margin + global margin + join read it
    val classTot = cells.groupBy(quasiCols.map(sf.col): _*)
      .agg(sf.sum("__cv").cast("long").as("__cc"))
    val glob = cells.groupBy("__s").agg(sf.sum("__cv").cast("long").as("__gv"))
    val nTot = glob.agg(sf.sum("__gv").cast("long").as("__n"))
    val perClass = cells
      .join(classTot, quasiCols)
      .join(glob, "__s")
      .crossJoin(sf.broadcast(nTot))
      .groupBy(quasiCols.map(sf.col): _*)
      .agg(
        sf.sum(sf.abs(dec(sf.col("__cv")) * dec(sf.col("__n")) -
          dec(sf.col("__gv")) * dec(sf.col("__cc")))).as("__a"),
        sf.sum("__gv").cast("long").as("__b"),
        sf.max("__cc").as("__cc"), sf.max("__n").as("__n"))
      .select(quasiCols.map(sf.col) :+
        sf.col("__cc").as("__rows") :+
        gf.roundAt((sf.col("__a").cast("double") +
          (sf.col("__n") - sf.col("__b")).cast("double") *
            sf.col("__cc").cast("double")) /
          (sf.lit(2.0) * sf.col("__cc").cast("double") * sf.col("__n").cast("double")),
          6).as("__t"): _*)
    perClass.agg(sf.count(sf.lit(1)).as("n_groups"),
        sf.sum((sf.col("__t") > t).cast("long")).as("n_violating"),
        sf.sum(sf.when(sf.col("__t") > t, sf.col("__rows")).otherwise(0L))
          .cast("long").as("rows_at_risk"),
        sf.max("__t").as("max_t"))
      .select(sf.lit(quasiCols.mkString(",")).as("quasi_cols"),
        sf.lit(t).as("t"), sf.col("n_groups"), sf.col("n_violating"),
        sf.col("rows_at_risk"), sf.col("max_t"))
  }

  /** Join-key skew profile: the numbers that decide whether a join
    * needs `Skew.saltedJoin` (and at what hot-key threshold) — total
    * rows, exact distinct keys, the heaviest key's count and share,
    * and the skew ratio (max over mean). Run it on the build/probe key
    * before sizing a big join; a ratio near 1 means plain hash
    * partitioning balances, a ratio in the thousands means the top key
    * serializes one task.
    *
    * Scale shape: one map-side-combined groupBy(key) (domain-sized),
    * then a single-row aggregate over the count table. NULL keys count
    * as one key (they hash to one partition — exactly the skew that
    * matters). */
  def skewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(sf.col(keyCol)).agg(sf.count(sf.lit(1)).as("__cnt"))
    counts.agg(sf.sum("__cnt").as("n_rows"),
        sf.count(sf.lit(1)).as("n_keys"),
        sf.max("__cnt").as("max_key_rows"))
      .select(sf.lit(keyCol).as("key_col"), sf.col("n_rows"), sf.col("n_keys"),
        sf.col("max_key_rows"),
        gf.roundAt(sf.col("max_key_rows").cast("double") /
          sf.col("n_rows").cast("double"), 4).as("top_share"),
        gf.roundAt(sf.col("max_key_rows").cast("double") /
          (sf.col("n_rows").cast("double") / sf.col("n_keys").cast("double")), 4)
          .as("skew_ratio"))
  }

  /** Fixed-width histogram over a numeric column: values clamped into
    * [lo, hi), nBins equal bins, per-bin count + observed min/max.
    * The bin index is `floor((x-lo)/(hi-lo)*nBins)` evaluated in that
    * exact double-operation order — IEEE arithmetic is deterministic, so
    * any engine replaying the same expression produces the same bins.
    * Empty bins are absent (no densification pass).
    *
    * Scale shape: one map-side-combined groupBy over at most nBins keys
    * — the shuffle carries <= nBins rows per map task regardless of
    * input size. */
  def histogram(df: DataFrame, valueCol: String, nBins: Int,
                lo: Double, hi: Double): DataFrame = {
    require(nBins >= 1 && lo < hi, "need nBins >= 1 and lo < hi")
    val x = sf.col(valueCol).cast("double")
    val bin = sf.least(sf.greatest(
      sf.floor((x - lo) / (hi - lo) * nBins), sf.lit(0L)), sf.lit(nBins - 1L))
    val width = (hi - lo) / nBins
    df.filter(x.isNotNull)
      .groupBy(bin.cast("int").as("bin_idx"))
      .agg(sf.count(sf.lit(1)).as("n"),
        gf.roundAt(sf.min(x), 6).as("v_min"),
        gf.roundAt(sf.max(x), 6).as("v_max"))
      .select(sf.col("bin_idx"),
        gf.roundAt(sf.lit(lo) + sf.col("bin_idx") * width, 6).as("bin_lo"),
        gf.roundAt(sf.lit(lo) + (sf.col("bin_idx") + 1) * width, 6).as("bin_hi"),
        sf.col("n"), sf.col("v_min"), sf.col("v_max"))
      .orderBy("bin_idx")
  }

  /** Population-stability-index (PSI) drift between two snapshots of a
    * numeric column — the monitoring number that says whether tomorrow's
    * corpus still looks like today's. Both sides bin with [[histogram]]'s
    * clamped fixed-width rule; shares are Laplace-smoothed
    * ((n + 0.5) / (N + 0.5·nBins)) so a bin present on one side only
    * contributes a finite term. Emits one row per OCCUPIED bin (absent
    * from both sides = absent here) with each side's count, smoothed
    * share, and the PSI term (p−q)·ln(p/q); the index is their sum.
    * Rule of thumb: < 0.1 stable, > 0.25 population shift.
    *
    * Scale shape: two independent map-side-combined bin aggregations
    * (<= nBins rows each), a broadcast-sized full outer join on bin,
    * and two single-row totals — cost is two scans, nothing else grows
    * with the data. */
  def psiDrift(dfA: DataFrame, dfB: DataFrame, valueCol: String,
               nBins: Int, lo: Double, hi: Double): DataFrame = {
    require(nBins >= 1 && lo < hi, "need nBins >= 1 and lo < hi")
    def bins(df: DataFrame, out: String) = {
      val x = sf.col(valueCol).cast("double")
      val bin = sf.least(sf.greatest(
        sf.floor((x - lo) / (hi - lo) * nBins), sf.lit(0L)), sf.lit(nBins - 1L))
      df.filter(x.isNotNull).groupBy(bin.cast("int").as(s"__b$out"))
        .agg(sf.count(sf.lit(1)).as(out))
    }
    val a = bins(dfA, "n_a")
    val b = bins(dfB, "n_b")
    val joined = a.join(b, sf.col("__bn_a") === sf.col("__bn_b"), "full_outer")
      .select(sf.coalesce(sf.col("__bn_a"), sf.col("__bn_b")).as("bin_idx"),
        sf.coalesce(sf.col("n_a"), sf.lit(0L)).as("n_a"),
        sf.coalesce(sf.col("n_b"), sf.lit(0L)).as("n_b"))
    val totals = joined.agg(sf.sum("n_a").as("__ta"), sf.sum("n_b").as("__tb"))
    val p = (sf.col("n_a") + 0.5) / (sf.col("__ta") + 0.5 * nBins)
    val q = (sf.col("n_b") + 0.5) / (sf.col("__tb") + 0.5 * nBins)
    joined.crossJoin(sf.broadcast(totals))
      .select(sf.col("bin_idx"), sf.col("n_a"), sf.col("n_b"),
        gf.roundAt(p, 6).as("p_a"), gf.roundAt(q, 6).as("p_b"),
        gf.roundAt((p - q) * sf.log(p / q), 6).as("psi_term"))
      .orderBy("bin_idx")
  }

  /** The merged value domain of two samples, `(__v, __ca, __cb)`: one
    * row per distinct non-null `value` of either sample with its count
    * in each (0 where a sample lacks it). The two-sample tests below
    * all start here and keep only their own statistic.
    *
    * Scale shape: one tagged union of the two samples, spread once
    * ([[graft.operators.Par.spread]]), and ONE map-side-combinable
    * `groupBy(__v)` with conditional counts: a single shuffle bounded
    * by the value DOMAIN, not two per-side collapses merged by a
    * full-outer join. An empty or all-null sample is an all-zero count
    * column; two of them are an empty domain. */
  private def valueDomain(dfA: DataFrame, dfB: DataFrame, value: Column): DataFrame = {
    def tagged(df: DataFrame, a: Boolean) = df.select(value.as("__v"), sf.lit(a).as("__a"))
    graft.operators.Par.spread(tagged(dfA, a = true).unionAll(tagged(dfB, a = false)))
      .filter(sf.col("__v").isNotNull)
      .groupBy("__v")
      .agg(sf.count(sf.when(sf.col("__a"), 1)).as("__ca"),
        sf.count(sf.when(!sf.col("__a"), 1)).as("__cb"))
  }

  /** Exact two-sample Kolmogorov-Smirnov statistic: the largest gap
    * between the two samples' empirical CDFs — the UNBINNED
    * distribution-drift test ([[psiDrift]] is its binned, smoothed
    * sibling; KS has no bin-placement artifacts and detects shape
    * changes PSI's bins can straddle). Rule of thumb at these sample
    * sizes: ks >> c(α)·sqrt((n_a+n_b)/(n_a·n_b)) means different
    * distributions (c(0.05) ≈ 1.36).
    *
    * Every comparison runs in exact integer arithmetic: at value v the
    * CDF gap is |ca·n_b − cb·n_a| / (n_a·n_b) with ca/cb the
    * cumulative counts, so the max is found over integers and divides
    * ONCE at the end — no floating-point accumulation anywhere, and
    * any engine replays it bit-for-bit. Ties across samples are
    * handled correctly by evaluating the gap only at (sorted) distinct
    * observed values. `ks_at` reports the smallest value attaining the
    * max (the argmax tie-break), locating WHERE the distributions
    * diverge. An empty side gives n = 0 and NULL statistics.
    *
    * Scale shape: the [[valueDomain]] collapse, one running-frame
    * cumulative window over the value DOMAIN (keyed by a non-foldable
    * constant; bounded by the domain, not the row count), and a
    * single-row max. The integer gap ca·n_b − cb·n_a stays exact while
    * n_a·n_b < 2^63 (~3·10^9 rows per side); beyond that, lift the gap
    * into DECIMAL. */
  def ksTest(dfA: DataFrame, dfB: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = valueDomain(dfA, dfB, sf.col(valueCol).cast("double"))
      .localCheckpoint(true) // read by the window and the totals
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("__v")), sf.lit(1)))
      .orderBy("__v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = merged.agg(sf.sum("__ca").as("__na"), sf.sum("__cb").as("__nb"))
    merged
      // one select: window columns added by separate withColumns each get
      // their own extracted partition key, so each would re-sort the domain
      .select(sf.col("*"),
        sf.sum("__ca").over(w).as("__cuma"), sf.sum("__cb").over(w).as("__cumb"))
      .crossJoin(sf.broadcast(totals))
      .withColumn("__gap",
        sf.abs(sf.col("__cuma") * sf.col("__nb") - sf.col("__cumb") * sf.col("__na")))
      .agg(sf.max(sf.struct(sf.col("__gap"), (-sf.col("__v")).as("__nv"),
          sf.col("__na"), sf.col("__nb"))).as("__m"))
      .select({
        val ok = sf.col("__m.__na") > 0 && sf.col("__m.__nb") > 0
        Seq(sf.coalesce(sf.col("__m.__na"), sf.lit(0L)).as("n_a"),
          sf.coalesce(sf.col("__m.__nb"), sf.lit(0L)).as("n_b"),
          sf.when(ok, gf.roundAt(sf.col("__m.__gap").cast("double") /
            (sf.col("__m.__na") * sf.col("__m.__nb")).cast("double"), 6)).as("ks_stat"),
          sf.when(ok, gf.roundAt(-sf.col("__m.__nv"), 4)).as("ks_at"))
      }: _*)
  }

  /** Peaks-over-threshold tail fit per group — generalized Pareto
    * shape/scale via probability-weighted moments (Pickands 1975;
    * Hosking & Wallis 1987 PWM): over each group's exceedances above
    * its exact `tailQ` quantile, ξ̂ = 2 − b₀/(b₀−2b₁),
    * σ̂ = 2b₀b₁/(b₀−2b₁) with b₀ the mean excess and b₁ the
    * rank-weighted moment. THE tail-risk datasheet row 289's Hill
    * index can't give (Hill assumes a pure power law and only reads
    * α): ξ > 0 quantifies HOW heavy (ξ ≥ 1 = infinite mean — a p99
    * latency/length budget is meaningless), ξ ≈ 0 exponential-tailed,
    * ξ < 0 a finite endpoint — the number that decides truncation
    * policies for length outliers and capacity planning for latency.
    *
    * Determinism: values on the exact 1e-4 grid, collapsed to the
    * (group, value) DOMAIN; the threshold is the exact type-1
    * quantile (min v with cum·10⁴ ≥ q₄·n — pure integers, tailQ
    * snapped 1e-4); Σ(r−1)y over tied exceedance ranks is
    * rank-assignment-invariant and computed exactly on the domain
    * (c·cumE − c(c−1)/2 − c per cell) in DECIMAL(38,0); b₀/b₁/ξ/σ are
    * one pinned assembly (ξ 1e-6, σ and b₀ 1e-4). Groups with < 2
    * exceedances or a degenerate b₀−2b₁ yield NULL fits.
    *
    * Scale shape: one map-side-combined domain collapse + two
    * per-group cumulative windows over the DOMAIN (bounded by
    * distinct values per group, never row count — the [[ksTest]]
    * convention) + group-domain rollups. */
  def gpdTail(df: DataFrame, groupCol: String, valueCol: String,
              tailQ: Double = 0.95): DataFrame = {
    require(tailQ > 0.5 && tailQ < 1.0, s"tailQ must be in (0.5, 1), got $tailQ")
    import org.apache.spark.sql.expressions.Window
    val tq4 = math.floor(tailQ * 1e4 + 0.5).toLong
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val dom = df.filter(sf.col(valueCol).isNotNull && sf.col(groupCol).isNotNull)
      .select(sf.col(groupCol).cast("string").as("g"), v4.as("v"))
      .groupBy("g", "v").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // totals + cum window + exceedances read it
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = dom.groupBy("g").agg(sf.sum("c").cast("long").as("n"))
    val withCum = dom.withColumn("__cum", sf.sum("c").over(w)).join(tot, "g")
    val thr = withCum.filter(sf.col("__cum") * 10000L >= sf.lit(tq4) * sf.col("n"))
      .groupBy("g").agg(sf.min("v").as("__u"))
    val exc = dom.join(thr, "g").filter(sf.col("v") > sf.col("__u"))
      .select(sf.col("g"), (sf.col("v") - sf.col("__u")).as("y"), sf.col("c"))
      .withColumn("__cumE", sf.sum("c").over(
        Window.partitionBy("g").orderBy("y")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val fits = exc.groupBy("g")
      .agg(sf.sum("c").cast("long").as("n_exceed"),
        sf.sum(dec(sf.col("c")) * dec(sf.col("y"))).as("__s0"),
        // 2-scaled Σ(r-1)y: 2c·cum − c(c−1) − 2c stays in exact integers
        sf.sum((dec(sf.col("c")) * dec(sf.col("__cumE")) * 2 -
          dec(sf.col("c")) * dec(sf.col("c") - 1) - dec(sf.col("c")) * 2) *
          dec(sf.col("y"))).as("__s12"))
    tot.join(thr, "g").join(fits, Seq("g"), "left")
      .select({
        val ne = sf.col("n_exceed").cast("double")
        val b0 = sf.col("__s0").cast("double") / ne / 1e4
        val b1 = sf.col("__s12").cast("double") / 2 / 1e4 / (ne - 1.0) / ne
        val den = b0 - b1 * 2
        val ok = sf.col("n_exceed") >= 2 && den =!= 0.0
        Seq(sf.col("g").as(groupCol), sf.col("n"),
          gf.roundAt(sf.col("__u").cast("double") / 1e4, 4).as("threshold"),
          sf.coalesce(sf.col("n_exceed"), sf.lit(0L)).as("n_exceed"),
          sf.when(sf.col("n_exceed") >= 1, gf.roundAt(b0, 4)).as("mean_excess"),
          sf.when(ok, gf.roundAt(sf.lit(2.0) - b0 / den, 6)).as("xi"),
          sf.when(ok, gf.roundAt(b0 * 2 * b1 / den, 4)).as("sigma"))
      }: _*)
      .orderBy(groupCol)
  }

  /** Yuen's trimmed-mean t-test (Yuen 1974) — the ROBUST two-sample
    * location test: [[welchTTest]] already drops the equal-variance
    * assumption, but its means and variances are still wrecked by the
    * heavy tails every latency/length/value column actually has; Yuen
    * compares γ-trimmed means with Winsorized variances, so a handful
    * of outliers can't manufacture or mask a shift. The standard
    * robust A/B readout beside the rank tests (row 147 asks "does one
    * distribution dominate"; Yuen still answers in the COLUMN'S UNITS).
    *
    *   t = (x̄_t1 − x̄_t2)/√(d₁+d₂),  d = s²_w(n−1)/(h(h−1)),
    *   h = n − 2g,  g = ⌊γn⌋,  df Welch–Satterthwaite over d's.
    *
    * Determinism: values on the exact 1e-4 grid collapsed to the
    * value DOMAIN; γ snaps 1e-4 and g = (γ₄·n) div 10⁴ is exact; the
    * trim keeps exact per-cell rank overlaps (k = min(cum, n−g) −
    * max(cum−c, g), never negative), and Winsorization clamps at the
    * exact order statistics v₍g+1₎/v₍n−g₎ — value-level clamping
    * equals rank-level Winsorization exactly because every rank of a
    * sub-threshold value lies in the replaced block; all moments
    * DECIMAL(38,0), t/df one pinned assembly (trimmed means 1e-4,
    * t 1e-6, df 1e-4). h < 2 or zero pooled d yields NULL.
    *
    * Scale shape: per side one domain collapse + one cumulative
    * window over the value DOMAIN ([[ksTest]] convention) + two
    * order-statistic lookups + a one-row reduce. */
  def yuenTTest(dfA: DataFrame, dfB: DataFrame, valueCol: String,
                trim: Double = 0.2): DataFrame = {
    require(trim > 0 && trim < 0.5, s"trim must be in (0, 0.5), got $trim")
    import org.apache.spark.sql.expressions.Window
    val tr4 = math.floor(trim * 1e4 + 0.5).toLong
    def side(df: DataFrame, tag: String) = {
      val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
      val dom = graft.operators.Par.spread(
          df.filter(sf.col(valueCol).isNotNull).select(v4.as("v")))
        .groupBy("v").agg(sf.count(sf.lit(1)).as("c"))
        .localCheckpoint(true) // cum window + totals + clamp bounds read it
      val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("v")), sf.lit(1)))
        .orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = dom.withColumn("__cum", sf.sum("c").over(w))
        .localCheckpoint(true)
      val tot = dom.agg(sf.sum("c").cast("long").as("n"))
        .select(sf.col("n"),
          sf.expr(s"($tr4 * n) div 10000").as("g"))
        .withColumn("h", sf.col("n") - sf.col("g") * 2)
      val wc = cum.crossJoin(sf.broadcast(tot))
      val lo = wc.filter(sf.col("__cum") >= sf.col("g") + 1)
        .agg(sf.min("v").as("lo"))
      val hi = wc.filter(sf.col("__cum") >= sf.col("n") - sf.col("g"))
        .agg(sf.min("v").as("hi"))
      val kept = sf.greatest(sf.lit(0L),
        sf.least(sf.col("__cum"), sf.col("n") - sf.col("g")) -
          sf.greatest(sf.col("__cum") - sf.col("c"), sf.col("g")))
      val wv = sf.least(sf.greatest(sf.col("v"), sf.col("lo")), sf.col("hi"))
      wc.crossJoin(sf.broadcast(lo)).crossJoin(sf.broadcast(hi))
        .agg(sf.max("n").as(s"n_$tag"), sf.max("g").as(s"__g$tag"),
          sf.max("h").as(s"h_$tag"),
          sf.sum(dec(kept) * dec(sf.col("v"))).as(s"__ts$tag"),
          sf.sum(dec(sf.col("c")) * dec(wv)).as(s"__ws$tag"),
          sf.sum(dec(sf.col("c")) * dec(wv) * dec(wv)).as(s"__wss$tag"))
    }
    side(dfA, "a").crossJoin(sf.broadcast(side(dfB, "b")))
      .select({
        def stats(tag: String) = {
          val n = sf.col(s"n_$tag").cast("double")
          val h = sf.col(s"h_$tag").cast("double")
          val tm = sf.col(s"__ts$tag").cast("double") / h / 1e4
          val sw2 = (sf.col(s"__wss$tag").cast("double") / 1e8 -
            (sf.col(s"__ws$tag").cast("double") / 1e4) *
              (sf.col(s"__ws$tag").cast("double") / 1e4) / n) / (n - 1.0)
          val d = sw2 * (n - 1.0) / (h * (h - 1.0))
          (tm, d, h)
        }
        val (tma, da, ha) = stats("a")
        val (tmb, db, hb) = stats("b")
        val ok = sf.col("h_a") >= 2 && sf.col("h_b") >= 2 && (da + db) > 0.0
        Seq(sf.col("n_a"), sf.col("n_b"), sf.col("h_a"), sf.col("h_b"),
          sf.when(sf.col("h_a") >= 1, gf.roundAt(tma, 4)).as("tmean_a"),
          sf.when(sf.col("h_b") >= 1, gf.roundAt(tmb, 4)).as("tmean_b"),
          sf.when(ok, gf.roundAt((tma - tmb) / sf.sqrt(da + db), 6)).as("t_yuen"),
          sf.when(ok, gf.roundAt((da + db) * (da + db) /
            (da * da / (ha - 1.0) + db * db / (hb - 1.0)), 4)).as("df"))
      }: _*)
  }

  /** Chi-squared test of independence between two categorical columns
    * — "does source mix depend on language?" — completing the
    * testing suite next to Pearson (numeric-numeric, q87), KS/PSI
    * (numeric drift, q106/q89) and Welch (A/B means, q99).
    * chi2 = Σ_cells (observed − expected)²/expected with
    * expected = rowTotal·colTotal/n; NULL categories form their own
    * row/column (a real category in dirty data).
    *
    * Determinism: each cell's term is computed in a fixed double
    * order from exact integer counts, ROUNDED at 1e-6 with the
    * floor(x·10⁶+0.5) rule (bit-identical in any engine — a raw
    * double→decimal cast rounds ties differently across engines),
    * and summed as exact DECIMAL — addition is associative, so the
    * statistic cannot drift with partition merge order (a plain
    * double sum would). Cells with expected = 0 cannot occur (both
    * margins are > 0 by construction).
    *
    * Scale shape: one groupBy over observed (row, col) cells — at
    * most |rows|·|cols| after map-side combine — two margin
    * aggregations of that cell table, then the DENSIFIED margin grid
    * (an explicitly |rows|·|cols|-bounded cross join of the two
    * margin tables: empty cells contribute e and must not drop) left-
    * joins the observed counts into one single-row decimal sum.
    * Nothing scales with the data except the first compression
    * pass. */
  def chiSquared(df: DataFrame, rowCol: String, colCol: String): DataFrame =
    chiSquaredKernel(df, rowCol, colCol).select(
      gf.roundAt(sf.col("__chi2").cast("double"), 4).as("chi2"),
      ((sf.col("__fnr") - 1) * (sf.col("__fnc") - 1)).as("dof"),
      sf.col("__fn").as("n"))

  /** Shared χ² core ([[chiSquared]] / [[cramersV]]): the densified
    * margin-grid term sum plus the n / distinct-margin counts, one
    * row: (__chi2 decimal, __fn, __fnr, __fnc). */
  private def chiSquaredKernel(df: DataFrame, rowCol: String,
                               colCol: String): DataFrame = {
    val cells = graft.operators.Par.spread(
        df.select(sf.col(rowCol).cast("string").as("__r"),
          sf.col(colCol).cast("string").as("__c")))
      .groupBy("__r", "__c")
      .agg(sf.count(sf.lit(1)).as("__o"))
      .localCheckpoint(true) // margins + the term pass both read it
    val rowT = cells.groupBy("__r").agg(sf.sum("__o").as("__rt"))
    val colT = cells.groupBy("__c").agg(sf.sum("__o").as("__ct"))
    val n = cells.agg(sf.sum("__o").as("__n"),
      sf.count_distinct(sf.col("__r")).as("__nr"),
      sf.count_distinct(sf.col("__c")).as("__nc"))
    val e = sf.col("__rt").cast("double") * sf.col("__ct").cast("double") /
      sf.col("__n").cast("double")
    val term = {
      val d = sf.coalesce(sf.col("__o"), sf.lit(0L)).cast("double") - e
      gf.roundAt(d * d / e, 6).cast("decimal(28,6)")
    }
    // densify: EMPTY cells (observed 0, expected > 0) contribute e to
    // the statistic and must not be dropped — build the full margin
    // grid and left-join the observed counts
    rowT.crossJoin(colT)
      .join(cells, Seq("__r", "__c"), "left")
      .crossJoin(sf.broadcast(n))
      .agg(sf.sum(term).as("__chi2"), sf.first(sf.col("__n")).as("__fn"),
        sf.first(sf.col("__nr")).as("__fnr"), sf.first(sf.col("__nc")).as("__fnc"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) two-sample test — the
    * distribution-free companion to [[graft.operators.EventOps.abLift]]'s
    * Welch t: compares whole distributions by rank, so outliers and
    * skew can't dominate the way they do a mean test. Ties get the
    * midrank, and the normal approximation's variance carries the
    * standard tie correction.
    *
    * Exactness: with midranks, 2·rankSum is an integer —
    * Σ_v ca·(2·cumBefore + ca + cb + 1) — so U accumulates in exact
    * integer arithmetic (DECIMAL against overflow) and only the final
    * z assembly runs in (pinned-order) doubles. Any engine replays it.
    * An empty side gives n = 0 and NULL statistics.
    *
    * Scale shape: the [[valueDomain]] collapse, one domain-bounded
    * cumulative window (constant key, the [[ksTest]] window), a
    * single-row finish. */
  def mannWhitneyU(dfA: DataFrame, dfB: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = valueDomain(dfA, dfB, sf.col(valueCol).cast("double"))
      .localCheckpoint(true)
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("__v")), sf.lit(1)))
      .orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    val t = sf.col("__ca") + sf.col("__cb")
    val cumBefore = sf.coalesce(sf.sum(t).over(w), sf.lit(0L))
    merged
      .withColumn("__r2", dec(sf.col("__ca")) *
        dec(cumBefore * 2 + t + 1)) // 2 * (rank sum contribution)
      .withColumn("__tie", dec(t) * dec(t) * dec(t) - dec(t))
      .agg(sf.sum("__r2").as("__r2s"), sf.sum("__tie").as("__ties"),
        sf.sum("__ca").as("__na"), sf.sum("__cb").as("__nb"))
      .select({
        val na = sf.col("__na").cast("double")
        val nb = sf.col("__nb").cast("double")
        val n = na + nb
        // U = R1 - n1(n1+1)/2, from the exact doubled rank sum
        val u = sf.col("__r2s").cast("double") / 2 - na * (na + 1) / 2
        val mu = na * nb / 2
        val sigma = sf.sqrt(na * nb / 12 *
          ((n + 1) - sf.col("__ties").cast("double") / (n * (n - 1))))
        val ok = sf.col("__na") > 0 && sf.col("__nb") > 0
        Seq(sf.coalesce(sf.col("__na"), sf.lit(0L)).as("n_a"),
          sf.coalesce(sf.col("__nb"), sf.lit(0L)).as("n_b"),
          sf.when(ok, gf.roundAt(u, 4)).as("u_stat"),
          sf.when(ok && sigma > 0, gf.roundAt((u - mu) / sigma, 4)).as("z"))
      }: _*)
  }

  /** Cliff's delta ordinal effect size + the common-language effect
    * size / AUC (Cliff 1993; Romano et al. 2006 magnitude bands) —
    * the companion [[mannWhitneyU]] needs: at scale EVERY difference
    * is "significant", and δ = P(a>b) − P(a<b) answers the question
    * that matters — is it big? A = U/(n_a·n_b) is the probability a
    * random a-row exceeds a random b-row (ties split), the most
    * interpretable two-sample number there is.
    *
    * Exactness: from the same doubled midrank sum as [[mannWhitneyU]],
    * 2U = R2 − n_a(n_a+1) is an exact integer, so
    * δ = (2U − n_a·n_b)/(n_a·n_b) and A = 2U/(2·n_a·n_b) are single
    * pinned double divisions of exact decimal(38) integers, rounded
    * 1e-6; the magnitude band buckets the ROUNDED δ (so the label can
    * never disagree with the printed number). An empty side gives
    * n = 0 and NULL statistics and label.
    *
    * Scale shape: the [[valueDomain]] collapse, one domain-bounded
    * cumulative window (constant key, the [[ksTest]] window), a
    * single-row finish. */
  def cliffsDelta(dfA: DataFrame, dfB: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = valueDomain(dfA, dfB, sf.col(valueCol).cast("double"))
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("__v")), sf.lit(1)))
      .orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    val t = sf.col("__ca") + sf.col("__cb")
    val cumBefore = sf.coalesce(sf.sum(t).over(w), sf.lit(0L))
    merged
      .withColumn("__r2", dec(sf.col("__ca")) * dec(cumBefore * 2 + t + 1))
      .agg(sf.sum("__r2").as("__r2s"),
        sf.sum("__ca").as("__na"), sf.sum("__cb").as("__nb"))
      .select({
        val na = dec(sf.col("__na"))
        val nb = dec(sf.col("__nb"))
        val twoU = sf.col("__r2s") - na * (na + 1)
        val delta = (twoU - na * nb).cast("double") / (na * nb).cast("double")
        val ok = sf.col("__na") > 0 && sf.col("__nb") > 0
        val deltaR = sf.when(ok, gf.roundAt(delta, 6))
        val auc = twoU.cast("double") / (dec(sf.lit(2L)) * na * nb).cast("double")
        Seq(sf.coalesce(sf.col("__na"), sf.lit(0L)).as("n_a"),
          sf.coalesce(sf.col("__nb"), sf.lit(0L)).as("n_b"),
          deltaR.as("delta"),
          sf.when(ok, gf.roundAt(auc, 6)).as("auc"),
          sf.when(sf.abs(deltaR) < 0.147, "negligible")
            .when(sf.abs(deltaR) < 0.33, "small")
            .when(sf.abs(deltaR) < 0.474, "medium")
            .when(ok, "large").as("magnitude"))
      }: _*)
  }

  /** Family-wise A/B readout with Benjamini–Hochberg FDR control
    * (the Benjamini–Hochberg 1995 step-up procedure, the standard
    * multiple-testing correction): one two-proportion z-test PER GROUP
    * (success = value > threshold, arms = the q99 portable hash
    * split), then the p-values are ranked and the largest k with
    * p_(k) <= k/m·alpha defines the rejection set. Running m metric
    * tests at per-test alpha inflates false positives ~m-fold — this
    * is the operator that makes a metric-sweep dashboard honest.
    *
    * Determinism: counts are exact integers; z is assembled in pinned
    * IEEE order and snapped 1e-6; the two-sided p-value is
    * erfc(|z|/sqrt 2) via the Abramowitz–Stegun 7.1.26 polynomial —
    * identical literals and operation order in both engines, snapped
    * 1e-9 (the q173/q175 ln/exp-with-snap convention); BH ranks break
    * p-ties by group name.
    *
    * Scale shape: ONE combinable agg onto the bounded group domain;
    * the BH pass is windows over that domain (constant-partition — the
    * family of tests is bounded by construction, never corpus-sized). */
  def fdrProportionTests(events: DataFrame, groupCol: String = "event_type",
                         keyCol: String = "user_id", valueCol: String = "value",
                         successThreshold: Double = 50.0,
                         alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val variantA = graft.operators.Sampling.hashBucket(sf.col(keyCol)) < 5000
    val success = (sf.col(valueCol).cast("double") > successThreshold).cast("long")
    val agg = events
      .filter(sf.col(keyCol).isNotNull && sf.col(valueCol).isNotNull)
      .groupBy(sf.col(groupCol).as("group"))
      .agg(
        sf.sum(sf.when(variantA, 1L).otherwise(0L)).as("n_a"),
        sf.sum(sf.when(variantA, success).otherwise(0L)).as("x_a"),
        sf.sum(sf.when(!variantA, 1L).otherwise(0L)).as("n_b"),
        sf.sum(sf.when(!variantA, success).otherwise(0L)).as("x_b"))
    val na = sf.col("n_a").cast("double")
    val nb = sf.col("n_b").cast("double")
    val xa = sf.col("x_a").cast("double")
    val xb = sf.col("x_b").cast("double")
    val pool = (xa + xb) / (na + nb)
    val z0 = (xa / na - xb / nb) /
      sf.sqrt(pool * (sf.lit(1.0) - pool) * (sf.lit(1.0) / na + sf.lit(1.0) / nb))
    val zCol = sf.when(sf.col("n_a") > 0 && sf.col("n_b") > 0 &&
      sf.col("x_a") + sf.col("x_b") > 0 &&
      sf.col("x_a") + sf.col("x_b") < sf.col("n_a") + sf.col("n_b"),
      gf.roundAt(z0, 6))
    // two-sided p = erfc(|z|/sqrt2), Abramowitz-Stegun 7.1.26
    val x = sf.abs(sf.col("z")) / sf.lit(1.4142135623730951)
    val t = sf.lit(1.0) / (sf.lit(1.0) + sf.lit(0.3275911) * x)
    val poly = t * (sf.lit(0.254829592) + t * (sf.lit(-0.284496736) +
      t * (sf.lit(1.421413741) + t * (sf.lit(-1.453152027) +
        t * sf.lit(1.061405429)))))
    val pCol = gf.roundAt(poly * sf.exp(-(x * x)), 9)
    // the one-partition key is a column, so all three windows read one
    // shuffle: a computed key in each window spec is extracted afresh
    // per select, and the later window would shuffle its own copy
    val byConst = Window.partitionBy("__k")
    val ordered = byConst.orderBy(sf.col("p_value").asc_nulls_last, sf.col("group"))
    val scored = agg
      .withColumn("__k", sf.pmod(sf.hash(sf.col("group")), sf.lit(1)))
      .withColumn("z", zCol)
      .withColumn("p_value", sf.when(sf.col("z").isNotNull, pCol))
      .select(sf.col("*"), sf.count(sf.col("p_value")).over(byConst).as("__m"),
        sf.when(sf.col("p_value").isNotNull, sf.row_number().over(ordered))
          .cast("long").as("bh_rank"))
      .withColumn("bh_crit", sf.when(sf.col("bh_rank").isNotNull, gf.roundAt(
        sf.col("bh_rank").cast("double") * sf.lit(alpha) /
          sf.col("__m").cast("double"), 9)))
    scored
      .withColumn("__kmax", sf.max(sf.when(
        sf.col("p_value") <= sf.col("bh_crit"), sf.col("bh_rank"))).over(byConst))
      .select(sf.col("group"), sf.col("n_a"), sf.col("x_a"), sf.col("n_b"),
        sf.col("x_b"), sf.col("z"), sf.col("p_value"), sf.col("bh_rank"),
        sf.col("bh_crit"),
        (sf.col("p_value").isNotNull &&
          sf.col("bh_rank") <= sf.coalesce(sf.col("__kmax"), sf.lit(0L)))
          .as("reject"))
      .orderBy("group")
  }

  /** Exact ROC AUC of a scalar score against a binary label, via the
    * Mann-Whitney identity AUC = U / (n_pos · n_neg): the probability
    * a random positive outranks a random negative, with ties counted
    * half. No threshold sweep and no sorted-curve materialization —
    * the rank-sum form IS the trapezoid-rule AUC, computed exactly.
    *
    * Exactness: the [[mannWhitneyU]] machinery — per-value counts on
    * the DISTINCT-score domain, doubled rank sums as exact DECIMAL
    * integers (2·rankSum = Σ_v ca·(2·cumBefore + ca + cb + 1), no
    * halves), and only the final AUC ratio assembled in pinned-order
    * doubles. Feed an already-snapped score (e.g. a 1e4 fixed-point
    * classifier margin) and any engine replays the value bit-for-bit.
    *
    * Scale shape: one map-side-combined groupBy onto the distinct
    * score domain, one domain-bounded cumulative window, a single-row
    * finish. The corpus never sorts; only distinct scores do. */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = graft.operators.Par.spread(
      df.select(sf.col(scoreCol).cast("double").as("__v"),
        (sf.col(labelCol).cast("bigint") > 0).as("__p")))
      .filter(sf.col("__v").isNotNull && sf.col("__p").isNotNull)
      .groupBy("__v")
      .agg(sf.sum(sf.when(sf.col("__p"), 1L).otherwise(0L)).as("__ca"),
        sf.sum(sf.when(sf.col("__p"), 0L).otherwise(1L)).as("__cb"))
      .localCheckpoint(true)
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("__v")), sf.lit(1)))
      .orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    val t = sf.col("__ca") + sf.col("__cb")
    val cumBefore = sf.coalesce(sf.sum(t).over(w), sf.lit(0L))
    merged
      .withColumn("__r2", dec(sf.col("__ca")) * dec(cumBefore * 2 + t + 1))
      .agg(sf.sum("__r2").as("__r2s"),
        sf.sum("__ca").as("__na"), sf.sum("__cb").as("__nb"))
      .select({
        val na = sf.col("__na").cast("double")
        val nb = sf.col("__nb").cast("double")
        // U = R_pos - n_pos(n_pos+1)/2, from the exact doubled rank sum
        val u = sf.col("__r2s").cast("double") / 2 - na * (na + 1) / 2
        val auc = u / (na * nb)
        Seq(sf.col("__na").cast("long").as("n_pos"),
          sf.col("__nb").cast("long").as("n_neg"),
          sf.when(sf.col("__na") > 0 && sf.col("__nb") > 0,
            gf.roundAt(auc, 6)).as("auc"),
          sf.when(sf.col("__na") > 0 && sf.col("__nb") > 0,
            gf.roundAt(auc * 2 - 1, 6)).as("gini"))
      }: _*)
  }

  /** Precision–recall curve + F1 over every DISTINCT decision
    * threshold of a scalar score — the threshold-sweep companion of
    * [[rocAuc]] (which integrates the curve away): one output row per
    * distinct score v with the confusion counts and P/R/F1 of the rule
    * "predict positive when score >= v". The argmax row of `f1` is the
    * operating point a filtering pipeline should ship.
    *
    * Exactness: per-value (pos, neg) counts on the distinct-score
    * domain are exact integers; cumulative TP/FP are exact integer
    * prefix sums in score-DESC order; P/R/F1 assemble per row in one
    * pinned double expression, rounded at 1e-6. Feed an
    * already-snapped score (the rocAuc advice) for bit-stable output.
    *
    * Scale shape: one map-side-combined groupBy onto the distinct
    * score domain, then ONE range-partitioned prefix-sum pass
    * (`StarSchema.globalPrefixSumsMulti` carries TP and FP together) —
    * never a one-task global window; totals ride a single-row
    * broadcast. The corpus never sorts; only distinct scores do. */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val merged = graft.operators.Par.spread(
      df.select(sf.col(scoreCol).cast("double").as("score"),
        (sf.col(labelCol).cast("bigint") > 0).as("__p")))
      .filter(sf.col("score").isNotNull && sf.col("__p").isNotNull)
      .groupBy("score")
      .agg(sf.sum(sf.when(sf.col("__p"), 1L).otherwise(0L)).as("__ca"),
        sf.sum(sf.when(sf.col("__p"), 0L).otherwise(1L)).as("__cb"))
      .withColumn("__neg", sf.negate(sf.col("score")))
      .localCheckpoint(true) // totals broadcast + prefix pass read it
    val totals = merged.agg(sf.sum("__ca").as("__np"), sf.sum("__cb").as("__nn"))
    val cum = graft.operators.StarSchema.globalPrefixSumsMulti(
      merged, Seq("__neg"), Seq("__ca" -> "tp", "__cb" -> "fp"))
    val tp = sf.col("tp").cast("double")
    val fp = sf.col("fp").cast("double")
    val np = sf.col("__np").cast("double")
    val prec = tp / (tp + fp)
    val rec = tp / np
    cum.crossJoin(sf.broadcast(totals))
      .select(sf.col("score").as("threshold"),
        sf.col("tp"), sf.col("fp"),
        (sf.col("__np") - sf.col("tp")).as("fn"),
        (sf.col("__nn") - sf.col("fp")).as("tn"),
        sf.when(sf.col("tp") + sf.col("fp") > 0, gf.roundAt(prec, 6)).as("precision"),
        sf.when(sf.col("__np") > 0, gf.roundAt(rec, 6)).as("recall"),
        sf.when(sf.col("tp") > 0,
          gf.roundAt(sf.lit(2.0) * prec * rec / (prec + rec), 6))
          .otherwise(sf.when(sf.col("__np") > 0, 0.0)).as("f1"))
      .orderBy(sf.col("threshold").desc)
  }

  /** Kaplan–Meier survival curve (product-limit estimator) over
    * (duration, event-indicator) pairs with right censoring — the
    * survival/retention readout behind "how long until a user
    * converts/churns": one row per distinct duration t with the
    * at-risk count, event/censor counts, and S(t) = Π_{tᵢ≤t, dᵢ>0}
    * (1 − dᵢ/nᵢ). Censored subjects leave the risk set without
    * forcing the curve down — the property that makes KM the honest
    * estimator when observation windows differ per subject.
    *
    * Exactness: per-duration (event, censor) counts are exact
    * integers, at-risk counts are exact integer prefix sums, each
    * ln(1 − d/n) factor snaps to 1e-9 fixed point, the cumulative
    * log-sum is an exact integer prefix sum, and one exp + 1e-6
    * round finishes per row. A duration where d = n (risk set wiped
    * out by events) sets S exactly 0.0 from there on via a prefix
    * flag — no −∞ travels through the sums.
    *
    * Scale shape: one map-side-combined groupBy onto the distinct
    * duration domain, then two range-partitioned prefix passes
    * (`StarSchema.globalPrefixSumsMulti`: risk-set first — the ln
    * factor needs nᵢ — then log-sum + zero-flag), never a one-task
    * window; the grand total rides a single-row broadcast. */
  def kaplanMeier(df: DataFrame, durCol: String, eventCol: String): DataFrame = {
    val g = graft.operators.Par.spread(
      df.select(sf.col(durCol).cast("long").as("duration"),
        (sf.col(eventCol).cast("boolean")).as("__e")))
      .filter(sf.col("duration").isNotNull && sf.col("duration") >= 0 &&
        sf.col("__e").isNotNull)
      .groupBy("duration")
      .agg(sf.sum(sf.when(sf.col("__e"), 1L).otherwise(0L)).as("n_event"),
        sf.sum(sf.when(sf.col("__e"), 0L).otherwise(1L)).as("n_censor"))
      .withColumn("__leave", sf.col("n_event") + sf.col("n_censor"))
      .localCheckpoint(true) // total broadcast + prefix pass read it
    val total = g.agg(sf.sum("__leave").as("__n"))
    val risk = graft.operators.StarSchema.globalPrefixSumsMulti(
        g, Seq("duration"), Seq("__leave" -> "__cumLeave"))
      .crossJoin(sf.broadcast(total))
      .withColumn("n_risk",
        sf.col("__n") - (sf.col("__cumLeave") - sf.col("__leave")))
      .withColumn("__lnTerm", sf.when(
          sf.col("n_event") > 0 && sf.col("n_event") < sf.col("n_risk"),
          sf.floor(sf.log(sf.lit(1.0) -
            sf.col("n_event").cast("double") / sf.col("n_risk").cast("double"))
            * 1e9 + 0.5).cast("long"))
        .otherwise(0L))
      .withColumn("__z",
        sf.when(sf.col("n_event") === sf.col("n_risk"), 1L).otherwise(0L))
    graft.operators.StarSchema.globalPrefixSumsMulti(
        risk, Seq("duration"), Seq("__lnTerm" -> "__cumLn", "__z" -> "__cumZ"))
      .select(sf.col("duration"), sf.col("n_risk"),
        sf.col("n_event"), sf.col("n_censor"),
        sf.when(sf.col("__cumZ") > 0, 0.0)
          .otherwise(gf.roundAt(sf.exp(sf.col("__cumLn").cast("double") / 1e9), 6))
          .as("survival"))
      .orderBy("duration")
  }

  /** Nelson–Aalen cumulative hazard (Nelson 1972; Aalen 1978) — the
    * hazard-scale twin of [[kaplanMeier]]: H(t) = Σ_{s≤t} d_s/n_s with
    * variance estimate Σ d_s/n_s². KM answers "what fraction
    * survives"; the NA curve answers "how much hazard has accumulated"
    * — additive, so hazard between two times is a subtraction, and a
    * straight NA curve IS the constant-rate (exponential) diagnostic:
    * curvature up = aging/wear-out, curvature down = burn-in — read it
    * before trusting the q121-style constant-rate assumptions. Also
    * exp(−H) is the Fleming–Harrington survival estimate printed
    * beside it (tighter than KM in small samples).
    *
    * Determinism: risk sets are exact integers via the [[kaplanMeier]]
    * prefix-sum machinery; each increment d/n and d/n² snaps to the
    * 1e-9 integer grid, so the cumulative sums are exact longs (a
    * second range-partitioned prefix pass); outputs round 1e-6.
    *
    * Scale shape: one duration-keyed collapse + TWO range-partitioned
    * prefix passes (`globalPrefixSumsMulti`) + a broadcast one-row
    * total — never a one-task window. */
  def nelsonAalen(df: DataFrame, durCol: String, eventCol: String): DataFrame = {
    val g = graft.operators.Par.spread(
      df.select(sf.col(durCol).cast("long").as("duration"),
        sf.col(eventCol).cast("boolean").as("__e")))
      .filter(sf.col("duration").isNotNull && sf.col("duration") >= 0 &&
        sf.col("__e").isNotNull)
      .groupBy("duration")
      .agg(sf.sum(sf.when(sf.col("__e"), 1L).otherwise(0L)).as("n_event"),
        sf.sum(sf.when(sf.col("__e"), 0L).otherwise(1L)).as("n_censor"))
      .withColumn("__leave", sf.col("n_event") + sf.col("n_censor"))
      .localCheckpoint(true)
    val total = g.agg(sf.sum("__leave").as("__n"))
    val risk = graft.operators.StarSchema.globalPrefixSumsMulti(
        g, Seq("duration"), Seq("__leave" -> "__cumLeave"))
      .crossJoin(sf.broadcast(total))
      .withColumn("n_risk",
        sf.col("__n") - (sf.col("__cumLeave") - sf.col("__leave")))
      .withColumn("__h9", sf.floor(sf.col("n_event").cast("double") /
        sf.col("n_risk").cast("double") * 1e9 + 0.5).cast("long"))
      .withColumn("__v9", sf.floor(sf.col("n_event").cast("double") /
        (sf.col("n_risk").cast("double") * sf.col("n_risk").cast("double"))
        * 1e9 + 0.5).cast("long"))
    graft.operators.StarSchema.globalPrefixSumsMulti(
        risk, Seq("duration"), Seq("__h9" -> "__cumH", "__v9" -> "__cumV"))
      .select(sf.col("duration"), sf.col("n_risk"),
        sf.col("n_event"), sf.col("n_censor"),
        gf.roundAt(sf.col("__cumH").cast("double") / 1e9, 6).as("cum_hazard"),
        gf.roundAt(sf.col("__cumV").cast("double") / 1e9, 6).as("hazard_var"),
        gf.roundAt(sf.exp(-(sf.col("__cumH").cast("double") / 1e9)), 6)
          .as("fh_survival"))
      .orderBy("duration")
  }

  /** Hodges–Lehmann location shift (Hodges & Lehmann 1963): the median
    * of all pairwise differences x − y between two samples — the SIZE
    * companion of the Mann–Whitney TEST (MWU says the distributions
    * differ; HL says BY HOW MUCH, in the value's own units), robust
    * where a mean difference is dragged by the tails: "source B's
    * documents are 240 characters longer, typically". Integer-valued
    * (or pre-bucketed) inputs are the CONTRACT that makes the exact
    * O(n²) pair statistic computable at 100 TB: pair mass lives on the
    * VALUE-DOMAIN product (D_a·D_b cells), and the distinct DIFFERENCE
    * domain is bounded by the value ranges (≤ range_a + range_b
    * points), never by row counts.
    *
    * Determinism: cell weights c_a·c_b are exact DECIMAL(38,0)
    * products (pair counts square the corpus); the lower weighted
    * median (smallest d with 2·cumW ≥ totW — the [[weightedQuantile]]
    * convention) is exact integer arithmetic end-to-end — nothing to
    * round. An empty side gives n = 0 and a NULL shift.
    *
    * Scale shape: the [[valueDomain]] collapse (cast to long; each
    * side is a filter of it), a domain×domain broadcast pairing, ONE
    * difference-domain rollup (combinable), and a cumulative pass over
    * the difference domain riding
    * [[graft.operators.StarSchema.globalPrefixSums]] (range partition
    * + broadcast offsets) — even a near-continuous value column whose
    * difference domain approaches row counts sorts in parallel, never
    * on one task. Sample sizes are count sums over the collapsed
    * domain (no driver-side count() actions). */
  def hodgesLehmann(dfA: DataFrame, dfB: DataFrame,
                    valueCol: String): DataFrame = {
    val both = valueDomain(dfA, dfB, sf.col(valueCol).cast("long"))
      .localCheckpoint(true) // both sides, the pairing and the sizes read it
    val da = both.filter(sf.col("__ca") > 0)
      .select(sf.col("__v").as("__va"), sf.col("__ca"))
    val db = both.filter(sf.col("__cb") > 0)
      .select(sf.col("__v").as("__vb"), sf.col("__cb"))
    // read ONCE (by the prefix pass) — no checkpoint: the pair-weight
    // total needs no second scan of diffs because Σ__w = Σc_a·Σc_b =
    // n_a·n_b exactly (every (a,b) value pair contributes c_a·c_b once)
    val diffs = da.crossJoin(sf.broadcast(db))
      .groupBy((sf.col("__va") - sf.col("__vb")).as("__d"))
      .agg(sf.sum(dec(sf.col("__ca")) * dec(sf.col("__cb"))).as("__w"))
    val sizes = both.agg(
        sf.coalesce(sf.sum("__ca"), sf.lit(0L)).as("n_a"),
        sf.coalesce(sf.sum("__cb"), sf.lit(0L)).as("n_b"))
      .withColumn("__tot", dec(sf.col("n_a")) * dec(sf.col("n_b")))
    val med = graft.operators.StarSchema
      .globalPrefixSums(diffs, Seq("__d"), "__w", "__cum")
      .crossJoin(sf.broadcast(sizes.select("__tot")))
      .filter(sf.col("__cum") * 2 >= sf.col("__tot"))
      .agg(sf.min("__d").as("hl_shift"))
    med.crossJoin(sf.broadcast(sizes))
      .select(sf.col("n_a"), sf.col("n_b"), sf.col("hl_shift"))
  }

  /** Restricted mean survival time (RMST; Royston & Parmar 2013 for
    * the modern case): the area under the [[kaplanMeier]] curve up to
    * a horizon τ — "expected time alive/retained within the first τ"
    * — the estimand the methods literature now recommends OVER median
    * survival (undefined until half the cohort converts) and hazard
    * ratios (uninterpretable under non-proportional hazards): a
    * single seconds-valued number a capacity/LTV model can consume,
    * plus the same area for the step curve's complement. Pure
    * COMPOSITION over [[kaplanMeier]]'s output — never a second
    * survival implementation.
    *
    * Determinism: KM survival values are already 1e-6-snapped, so
    * each segment contribution S·gap·1e6 = k·gap is an EXACT long
    * (k ≤ 1e6, gap bounded by the horizon — no 2^53 overflow by
    * construction at any realistic τ); the initial [0, t₁) segment
    * contributes min(t₁, τ) at S = 1 exactly; RMST is one division
    * rounded 1e-6. τ beyond the last event extends the final S flat
    * to τ — the standard convention.
    *
    * Scale shape: the KM chain + a `globalDenseIds` successor join
    * over the TIME DOMAIN (range-partitioned — never a one-task lead
    * window) + one combinable sum. */
  def rmst(df: DataFrame, durCol: String, eventCol: String,
           tau: Long): DataFrame = {
    require(tau > 0, s"tau must be > 0, got $tau")
    val km = kaplanMeier(df, durCol, eventCol)
      .select(sf.col("duration"), sf.col("survival"))
    val idx = graft.operators.StarSchema.globalDenseIds(
      km, Seq("duration"), keyName = "__i").localCheckpoint(true)
    val nxt = idx.select((sf.col("__i") - 1L).as("__i"),
      sf.col("duration").as("__next"))
    val segEnd = sf.least(sf.coalesce(sf.col("__next"), sf.lit(tau)), sf.lit(tau))
    val contrib6 = sf.when(sf.col("duration") < tau,
      sf.floor(sf.col("survival") * (segEnd - sf.col("duration")).cast("double")
        * 1e6 + 0.5).cast("long")).otherwise(0L)
    val head = idx.agg(sf.min("duration").as("__t1"),
      sf.count(sf.lit(1)).as("n_times"))
    idx.join(nxt, Seq("__i"), "left")
      .agg(sf.sum(contrib6).as("__c6"))
      .crossJoin(sf.broadcast(head))
      .select(sf.lit(tau).as("tau"), sf.col("n_times"),
        gf.roundAt((sf.least(sf.col("__t1"), sf.lit(tau)).cast("double") * 1e6 +
          sf.col("__c6").cast("double")) / 1e6, 6).as("rmst"))
  }

  /** Aalen–Johansen cumulative incidence under COMPETING RISKS (Aalen
    * & Johansen 1978): when a subject can exit by several causes
    * (converted vs churned, deduped-away vs quality-dropped), the
    * naive per-cause KM "1 − survival" OVERSTATES every cause (it
    * treats competitors as censoring); the AJ estimator
    * CIF_k(t) = Σ_{s≤t} Ŝ(s−)·d_{k,s}/n_s uses the ALL-CAUSE survival
    * just before each event time, so the per-cause curves are proper
    * sub-distributions that sum to 1 − Ŝ(t). The standard readout for
    * "how much of the cohort will each outcome eventually claim".
    *
    * Determinism: risk sets and per-cause event counts are exact
    * integers on the [[kaplanMeier]] prefix machinery; the all-cause
    * KM ln-terms snap 1e-9 and the EXCLUSIVE prefix is the inclusive
    * prefix minus the current row's own term (no second pass); Ŝ(s−)
    * snaps to the 1e-6 grid (the q173 exp convention) before each
    * increment Ŝ(s−)·d_k/n snaps to the 1e-9 integer grid; per-cause
    * CIFs are then exact-long prefix sums, rounded 1e-6. A row-173
    * zero-survival flag upstream pins Ŝ(s−) = 0 exactly.
    *
    * Scale shape: one duration-keyed collapse with per-cause
    * conditional sums + TWO range-partitioned prefix passes (leave
    * counts; ln/zero flags + all cause increments in ONE multi-column
    * pass) + a bounded |causes|-way unpivot. Never a one-task
    * window. */
  def aalenJohansen(df: DataFrame, durCol: String, causeCol: String,
                    causes: Seq[String]): DataFrame = {
    require(causes.nonEmpty && causes.size <= 20,
      s"need 1..20 causes, got ${causes.size}")
    require(causes.distinct.size == causes.size, "duplicate cause names")
    val cs = causes.sorted
    val g0 = graft.operators.Par.spread(
      df.select(sf.col(durCol).cast("long").as("duration"),
        sf.col(causeCol).cast("string").as("__c")))
      .filter(sf.col("duration").isNotNull && sf.col("duration") >= 0 &&
        (sf.col("__c").isNull || sf.col("__c").isin(cs: _*)))
    val aggCols = cs.map(c =>
      sf.sum(sf.when(sf.col("__c") === c, 1L).otherwise(0L)).as(s"__d_$c")) :+
      sf.sum(sf.when(sf.col("__c").isNull, 1L).otherwise(0L)).as("__cen")
    val g = g0.groupBy("duration")
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("__d", cs.map(c => sf.col(s"__d_$c")).reduce(_ + _))
      .withColumn("__leave", sf.col("__d") + sf.col("__cen"))
      .localCheckpoint(true)
    val total = g.agg(sf.sum("__leave").as("__n"))
    val risk = graft.operators.StarSchema.globalPrefixSumsMulti(
        g, Seq("duration"), Seq("__leave" -> "__cumLeave"))
      .crossJoin(sf.broadcast(total))
      .withColumn("n_risk",
        sf.col("__n") - (sf.col("__cumLeave") - sf.col("__leave")))
      .withColumn("__lnTerm", sf.when(
          sf.col("__d") > 0 && sf.col("__d") < sf.col("n_risk"),
          sf.floor(sf.log(sf.lit(1.0) -
            sf.col("__d").cast("double") / sf.col("n_risk").cast("double"))
            * 1e9 + 0.5).cast("long"))
        .otherwise(0L))
      .withColumn("__z",
        sf.when(sf.col("__d") === sf.col("n_risk"), 1L).otherwise(0L))
    val withS = graft.operators.StarSchema.globalPrefixSumsMulti(
        risk, Seq("duration"), Seq("__lnTerm" -> "__cumLn", "__z" -> "__cumZ"))
      // S(s-): the prefix EXCLUSIVE of this row, snapped 1e-6
      .withColumn("__sm6", sf.when(
          sf.col("__cumZ") - sf.col("__z") > 0, 0L)
        .otherwise(sf.floor(sf.exp(
          (sf.col("__cumLn") - sf.col("__lnTerm")).cast("double") / 1e9)
          * 1e6 + 0.5).cast("long")))
    val withInc = cs.foldLeft(withS) { (acc, c) =>
      acc.withColumn(s"__i_$c", sf.floor(
        sf.col("__sm6").cast("double") / 1e6 *
          sf.col(s"__d_$c").cast("double") / sf.col("n_risk").cast("double")
          * 1e9 + 0.5).cast("long"))
    }
    val cum = graft.operators.StarSchema.globalPrefixSumsMulti(
      withInc, Seq("duration"), cs.map(c => s"__i_$c" -> s"__cif_$c"))
    val stackExpr = cs.map(c =>
      s"'$c', __d_$c, __cif_$c").mkString(s"stack(${cs.size}, ", ", ",
      ") AS (cause, n_event, __cif9)")
    cum.select(sf.col("duration"), sf.col("n_risk"), sf.expr(stackExpr))
      .select(sf.col("duration"), sf.col("cause"), sf.col("n_risk"),
        sf.col("n_event"),
        gf.roundAt(sf.col("__cif9").cast("double") / 1e9, 6).as("cif"))
      .orderBy("duration", "cause")
  }

  /** All-pairs Welch contrasts between group means — the "WHICH groups
    * differ" readout a significant [[anovaF]]/[[kruskalWallis]] omnibus
    * demands next: for every group pair, Δ = m_a − m_b, the unpooled
    * SE = √(s²_a/n_a + s²_b/n_b), t = Δ/SE, and the Welch–
    * Satterthwaite df — feed the t's to [[fdrProportionTests]]-style
    * correction downstream (k(k−1)/2 simultaneous tests is exactly
    * the multiplicity regime BH exists for; the pairing is the
    * documented contract, not a hidden default).
    *
    * Determinism: per-group exact (n, Σv4, Σv4²) DECIMAL(38,0)
    * moments; every derived number a single pinned double assembly
    * rounded 1e-6; pairs with either side n < 2 or zero SE get NULL
    * t/df; pair order (group_a < group_b), output sorted.
    *
    * Scale shape: ONE map-side-combinable group aggregation, then the
    * GROUP-DOMAIN table self-pairs via a broadcast join — k(k−1)/2
    * rows, data-size-independent. */
  def pairwiseContrasts(df: DataFrame, groupCol: String,
                        valueCol: String): DataFrame = {
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val gstats = df
      .filter(sf.col(groupCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(groupCol).cast("string").as("g"), v4.as("__v"))
      .groupBy("g")
      .agg(sf.count(sf.lit(1)).as("n"), sf.sum("__v").cast("long").as("s"),
        sf.sum(dec(sf.col("__v")) * dec(sf.col("__v"))).as("q"))
      .localCheckpoint(true) // both pairing sides read it
    val pairs = gstats.select(sf.col("g").as("group_a"), sf.col("n").as("an"),
        sf.col("s").as("as_"), sf.col("q").as("aq"))
      .join(sf.broadcast(gstats.select(sf.col("g").as("group_b"),
        sf.col("n").as("bn"), sf.col("s").as("bs"), sf.col("q").as("bq"))),
        sf.col("group_a") < sf.col("group_b"))
    def m(n: String, s: String) = sf.col(s).cast("double") / 1e4 /
      sf.col(n).cast("double")
    def va(n: String, s: String, q: String) = {
      val nD = sf.col(n).cast("double")
      (dec(sf.col(n)) * sf.col(q) - dec(sf.col(s)) * dec(sf.col(s)))
        .cast("double") / 1e8 / (nD * (nD - 1.0))
    }
    val bothVar = sf.col("an") >= 2 && sf.col("bn") >= 2
    val vOverNa = sf.when(bothVar, va("an", "as_", "aq") /
      sf.col("an").cast("double")).otherwise(0.0)
    val vOverNb = sf.when(bothVar, va("bn", "bs", "bq") /
      sf.col("bn").cast("double")).otherwise(0.0)
    val se2 = vOverNa + vOverNb
    val diff = m("an", "as_") - m("bn", "bs")
    val dfW = se2 * se2 / (
      sf.when(bothVar, vOverNa * vOverNa / (sf.col("an").cast("double") - 1.0))
        .otherwise(0.0) +
      sf.when(bothVar, vOverNb * vOverNb / (sf.col("bn").cast("double") - 1.0))
        .otherwise(0.0))
    pairs.select(sf.col("group_a"), sf.col("group_b"),
      sf.col("an").as("n_a"), sf.col("bn").as("n_b"),
      gf.roundAt(m("an", "as_"), 6).as("mean_a"),
      gf.roundAt(m("bn", "bs"), 6).as("mean_b"),
      gf.roundAt(diff, 6).as("diff"),
      sf.when(bothVar && se2 > 0.0, gf.roundAt(sf.sqrt(se2), 6)).as("se"),
      sf.when(bothVar && se2 > 0.0, gf.roundAt(diff / sf.sqrt(se2), 6))
        .as("t_stat"),
      sf.when(bothVar && se2 > 0.0, gf.roundAt(dfW, 4)).as("welch_df"))
      .orderBy("group_a", "group_b")
  }

  /** Log-rank test (Mantel 1966; Peto & Peto 1972) between two groups'
    * survival curves — the inference companion of [[kaplanMeier]]: KM
    * draws the curves, log-rank says whether they differ beyond
    * chance ("does cohort B churn faster", "does the new pipeline's
    * time-to-first-byte survive longer"), correctly using CENSORED
    * rows that a naive mean-duration t-test throws away or biases on.
    * At each event time t: O₁ₜ = d₁ₜ observed group-1 events,
    * E₁ₜ = dₜ·n₁ₜ/nₜ expected under the pooled-hazard null, and the
    * hypergeometric variance Vₜ = dₜ(n₁ₜ/nₜ)(n₂ₜ/nₜ)(nₜ−dₜ)/(nₜ−1);
    * χ² = (ΣO₁ₜ − ΣE₁ₜ)²/ΣVₜ ~ χ²(1).
    *
    * Determinism: leave counts and risk sets are exact integers
    * (risk-set construction rides the [[kaplanMeier]] prefix-sum
    * machinery — n_gt = n_g − (cum_g − leave_gt)); each E₁ₜ and Vₜ is
    * a pinned double from exact longs snapped to the 1e-9 integer
    * grid BEFORE the unordered sums (the snap-then-sum convention);
    * χ² is one pinned assembly rounded 1e-6; zero variance (no event
    * time with both groups at risk) → NULL.
    *
    * Scale shape: one (duration)-keyed collapse with per-group
    * conditional sums (map-side combinable, time-domain-sized), ONE
    * range-partitioned prefix-sum pass over the time domain
    * (`globalPrefixSumsMulti` — never a one-task window), a broadcast
    * one-row totals frame, and a single-row rollup. */
  def logRank(df: DataFrame, durCol: String, eventCol: String,
              groupCol: String, groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "logRank needs two distinct groups")
    val g = sf.col(groupCol).cast("string")
    val base = graft.operators.Par.spread(
      df.select(sf.col(durCol).cast("long").as("duration"),
        sf.col(eventCol).cast("boolean").as("__e"), g.as("__g")))
      .filter(sf.col("duration").isNotNull && sf.col("duration") >= 0 &&
        sf.col("__e").isNotNull && sf.col("__g").isin(groupA, groupB))
    def cnt(grp: String, ev: Boolean) = sf.sum(
      sf.when(sf.col("__g") === grp && sf.col("__e") === ev, 1L).otherwise(0L))
    val cells = base.groupBy("duration")
      .agg(cnt(groupA, ev = true).as("d1"), cnt(groupA, ev = false).as("c1"),
        cnt(groupB, ev = true).as("d2"), cnt(groupB, ev = false).as("c2"))
      .withColumn("__l1", sf.col("d1") + sf.col("c1"))
      .withColumn("__l2", sf.col("d2") + sf.col("c2"))
      .localCheckpoint(true) // totals broadcast + prefix pass read it
    val tot = cells.agg(sf.sum("__l1").as("__n1"), sf.sum("__l2").as("__n2"))
    val risk = graft.operators.StarSchema.globalPrefixSumsMulti(
        cells, Seq("duration"), Seq("__l1" -> "__cum1", "__l2" -> "__cum2"))
      .crossJoin(sf.broadcast(tot))
      .select(sf.col("duration"), sf.col("d1"), sf.col("d2"),
        (sf.col("__n1") - (sf.col("__cum1") - sf.col("__l1"))).as("n1t"),
        (sf.col("__n2") - (sf.col("__cum2") - sf.col("__l2"))).as("n2t"))
      .filter(sf.col("d1") + sf.col("d2") > 0)
    val dt = (sf.col("d1") + sf.col("d2")).cast("double")
    val n1 = sf.col("n1t").cast("double")
    val n2 = sf.col("n2t").cast("double")
    val nt = n1 + n2
    val e9 = sf.floor(dt * n1 / nt * 1e9 + 0.5).cast("long")
    val v9 = sf.when(sf.col("n1t") + sf.col("n2t") > 1,
      sf.floor(dt * (n1 / nt) * (n2 / nt) * (nt - dt) / (nt - sf.lit(1.0))
        * 1e9 + 0.5).cast("long")).otherwise(0L)
    risk.agg(sf.count(sf.lit(1)).as("n_event_times"),
        sf.sum("d1").cast("long").as("o1"),
        sf.sum(e9).as("__e9"), sf.sum(v9).as("__v9"))
      .select(sf.col("n_event_times"), sf.col("o1"),
        gf.roundAt(sf.col("__e9").cast("double") / 1e9, 6).as("e1"),
        sf.when(sf.col("__v9") > 0, gf.roundAt(
          (sf.col("o1").cast("double") - sf.col("__e9").cast("double") / 1e9) *
            (sf.col("o1").cast("double") - sf.col("__e9").cast("double") / 1e9) /
            (sf.col("__v9").cast("double") / 1e9), 6)).as("chi2"))
  }

  /** Cohen's kappa — chance-corrected agreement between two
    * categorical labelings of the same rows (annotator vs annotator,
    * declared vs model-predicted label): kappa = (p_o − p_e)/(1 − p_e)
    * where p_o is observed agreement and p_e the agreement two
    * independent raters with these margins would reach by luck. The
    * number labeling pipelines gate on — raw accuracy flatters any
    * skewed label distribution; kappa doesn't.
    *
    * Exactness: cell counts, margins, and the diagonal are exact
    * integers from ONE (a, b) cell aggregation; p_e's Σ rowMargin ×
    * colMargin is an exact DECIMAL integer sum; the final
    * (p_o − p_e)/(1 − p_e) is one pinned double assembly (margins
    * divide by n as doubles, so n² never overflows), rounded 1e-4.
    * Degenerate p_e = 1 (both sides constant) → NULL kappa.
    *
    * Scale shape: one map-side-combined groupBy onto the label-pair
    * cell domain; margins re-aggregate the CELL table; everything
    * after is cell-domain-sized with single-row broadcasts. */
  def cohensKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = graft.operators.Par.spread(
      df.select(sf.col(colA).cast("string").as("__a"),
        sf.col(colB).cast("string").as("__b")))
      .filter(sf.col("__a").isNotNull && sf.col("__b").isNotNull)
      .groupBy("__a", "__b").agg(sf.count(sf.lit(1)).as("__c"))
      .localCheckpoint(true) // margins, diagonal, total all read it
    val ra = cells.groupBy("__a").agg(sf.sum("__c").as("__ra"))
    val cb = cells.groupBy("__b").agg(sf.sum("__c").as("__cb"))
    val tot = cells.agg(sf.sum("__c").as("__n"),
      sf.sum(sf.when(sf.col("__a") === sf.col("__b"), sf.col("__c"))
        .otherwise(0L)).as("__diag"))
    val peNum = ra.join(cb, sf.col("__a") === sf.col("__b"))
      .agg(sf.sum(dec(sf.col("__ra")) * dec(sf.col("__cb"))).as("__pe"))
    val n = sf.col("__n").cast("double")
    val po = sf.col("__diag").cast("double") / n
    val pe = sf.col("__pe").cast("double") / (n * n)
    tot.crossJoin(sf.broadcast(peNum))
      .select(sf.col("__n").as("n_rows"),
        gf.roundAt(po, 4).as("p_observed"),
        gf.roundAt(pe, 4).as("p_expected"),
        sf.when(pe < 1.0, gf.roundAt((po - pe) / (sf.lit(1.0) - pe), 4))
          .as("kappa"))
  }

  /** Mutual information between two categorical columns, in nats —
    * the effect-size companion to [[chiSquared]]: how many nats of
    * information one column carries about the other, plus both
    * marginal entropies and the normalized MI
    * (NMI = MI / sqrt(H(x)·H(y)), the symmetric-uncertainty form).
    * In curation this quantifies redundancy between metadata columns
    * (is `lang` just a renaming of `source`?) before one is dropped.
    *
    * Exactness: every ln term is snapped to 1e-6 fixed point
    * (floor(ln·1e6 + 0.5), the q148 convention) and then multiplied
    * by its exact integer cell count into DECIMAL(38,0) sums — the
    * unordered cross-cell sum is integer-exact, so engines can't
    * drift in the last ulps. Only the final MI/H/NMI ratios assemble
    * in pinned-order doubles.
    *
    * Scale shape: one map-side-combined groupBy onto the (x, y) cell
    * domain; margins re-aggregate the CELL table (domain-sized, not
    * corpus-sized); the two margin joins are AQE-decided equi joins;
    * single-row finish. NULL in either column drops the row. */
  def mutualInformation(df: DataFrame, colX: String, colY: String): DataFrame = {
    def lnFx(c: Column) = sf.floor(sf.log(c) * 1e6 + 0.5).cast("long")
    val cells = graft.operators.Par.spread(
      df.select(sf.col(colX).cast("string").as("__x"),
        sf.col(colY).cast("string").as("__y")))
      .filter(sf.col("__x").isNotNull && sf.col("__y").isNotNull)
      .groupBy("__x", "__y").agg(sf.count(sf.lit(1)).as("__cxy"))
      .localCheckpoint(true)
    val cx = cells.groupBy("__x").agg(sf.sum("__cxy").as("__cx"))
    val cy = cells.groupBy("__y").agg(sf.sum("__cxy").as("__cy"))
    val tot = cells.agg(sf.sum("__cxy").as("__n")).localCheckpoint(true)
    def entropy(margin: DataFrame, c: String) =
      margin.crossJoin(sf.broadcast(tot))
        .select((dec(sf.col(c)) * dec(lnFx(sf.col(c).cast("double") /
          sf.col("__n").cast("double")))).as("__t"))
        .agg(sf.sum("__t").as(s"${c}_sum"), sf.count(sf.lit(1)).as(s"${c}_n"))
    val miSum = cells.join(cx, "__x").join(cy, "__y")
      .crossJoin(sf.broadcast(tot))
      .select((dec(sf.col("__cxy")) * dec(lnFx(
        (sf.col("__cxy").cast("double") * sf.col("__n").cast("double")) /
          (sf.col("__cx").cast("double") * sf.col("__cy").cast("double"))))).as("__t"))
      .agg(sf.sum("__t").as("__mi_sum"))
    miSum.crossJoin(entropy(cx, "__cx")).crossJoin(entropy(cy, "__cy"))
      .crossJoin(sf.broadcast(tot))
      .select({
        val n = sf.col("__n").cast("double")
        val mi = sf.col("__mi_sum").cast("double") / 1e6 / n
        val hx = -(sf.col("__cx_sum").cast("double") / 1e6 / n)
        val hy = -(sf.col("__cy_sum").cast("double") / 1e6 / n)
        Seq(sf.col("__n").cast("long").as("n"),
          sf.col("__cx_n").as("n_x"), sf.col("__cy_n").as("n_y"),
          gf.roundAt(mi, 6).as("mi_nats"),
          gf.roundAt(hx, 6).as("h_x"), gf.roundAt(hy, 6).as("h_y"),
          sf.when(sf.col("__cx_sum") < 0 && sf.col("__cy_sum") < 0,
            gf.roundAt(mi / sf.sqrt(hx * hy), 6)).as("nmi"))
      }: _*)
  }

  /** Deterministic Poisson-bootstrap confidence interval for each
    * group's mean (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012): resample multiplicities are
    * Poisson(1) draws derived from a PORTABLE HASH of the row id and
    * the resample index — no RNG state, so the "random" resamples are
    * a pure function of the data and replay in any engine — and every
    * resample is a pair of conditional-sum cells in ONE combinable
    * aggregation. B resamples over 100 TB cost one scan with 2B+2
    * cells per map task; the corpus is never exploded B-fold and
    * never sorted.
    *
    * Output per group: n, the point mean, and the bootstrap
    * distribution's nearest-rank p05/p95 plus its standard error
    * (the CI a metrics dashboard should print next to every mean).
    *
    * Exactness: values quantize to 1e-4 fixed point and sum in
    * DECIMAL(38,0); each resample mean snaps to 1e-6 before the
    * rank/SE assembly, which runs as LEFT FOLDS over the SORTED
    * means array (B-bounded), so every double op has a pinned order.
    * Resamples that draw an empty multiset drop from the rank list. */
  def bootstrapMeanCI(df: DataFrame, keyCol: String, idCol: String,
                      valueCol: String, b: Int = 40): DataFrame = {
    require(b >= 4 && b <= 200, s"b must be in [4, 200], got $b")
    // cumulative Poisson(1) CDF scaled to 2^32 — literals shared with
    // the oracle builder via poissonThresholds
    val ts = poissonThresholds
    val base = df.select(sf.col(keyCol).as("__k"),
      sf.col(idCol).cast("long").as("__id"),
      sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).as("__vfx"))
      .filter(sf.col("__vfx").isNotNull && sf.col("__id").isNotNull)
      // all b multiplicities in one kernel pass — the 2b agg columns
      // then read element_at instead of each re-hashing + re-walking
      // the threshold chain per row (4.4s -> ~1s at sf0.1, b=40)
      .withColumn("__mu", gf.poissonMults(sf.col("__id"), b, ts))
    def mult(i: Int): Column = sf.element_at(sf.col("__mu"), i + 1)
    val cells: Seq[Column] =
      (0 until b).flatMap { i =>
        Seq(sf.sum(dec(mult(i)) * dec(sf.col("__vfx"))).as(s"__sb$i"),
          sf.sum(mult(i)).as(s"__nb$i"))
      } ++ Seq(sf.count(sf.lit(1)).as("__n"), sf.sum(dec(sf.col("__vfx"))).as("__s"))
    val agg = base.groupBy("__k").agg(cells.head, cells.tail: _*)
    val meanFx = (0 until b).map { i =>
      sf.when(sf.col(s"__nb$i") > 0,
        sf.floor(sf.col(s"__sb$i").cast("double") / 1e4 /
          sf.col(s"__nb$i").cast("double") * 1e6 + 0.5))
    }
    val means = sf.sort_array(sf.filter(sf.array(meanFx: _*), x => x.isNotNull))
    agg.select(sf.col("__k"), sf.col("__n"), sf.col("__s"), means.as("__m"))
      .select({
        val nb = sf.size(sf.col("__m"))
        // nearest-rank ceil(p·nb/100) in exact small-integer arithmetic
        def rank(p: Int) =
          sf.floor((nb * p + 99).cast("double") / 100.0).cast("int")
        def atRank(p: Int) =
          sf.element_at(sf.col("__m"), sf.greatest(rank(p), sf.lit(1))) / 1e6
        val sum1 = sf.aggregate(sf.col("__m"), sf.lit(0.0),
          (a, x) => a + x / 1e6)
        val mom = sum1 / nb.cast("double")
        val sumsq = sf.aggregate(sf.col("__m"), sf.lit(0.0),
          (a, x) => a + (x / 1e6 - mom) * (x / 1e6 - mom))
        Seq(sf.col("__k").as(keyCol),
          sf.col("__n").as("n"),
          gf.roundAt(sf.col("__s").cast("double") / 1e4 /
            sf.col("__n").cast("double"), 6).as("mean"),
          nb.cast("long").as("n_resamples"),
          sf.when(nb > 0, gf.roundAt(atRank(5), 6)).as("p05_boot"),
          sf.when(nb > 0, gf.roundAt(atRank(95), 6)).as("p95_boot"),
          sf.when(nb > 1, gf.roundAt(
            sf.sqrt(sumsq / (nb.cast("double") - 1.0)), 6)).as("se_boot"))
      }: _*)
      .orderBy(keyCol)
  }

  /** Cumulative Poisson(1) CDF at k = 0..5, scaled to 2^32 and
    * floored — the inverse-CDF thresholds the bootstrap multiplicity
    * draw shares between the Spark side and the oracle SQL (draws
    * beyond 5 collapse to multiplicity 6; P ≈ 1e-4). */
  def poissonThresholds: Seq[Long] = {
    val e1 = math.exp(-1.0)
    val fact = Seq(1.0, 1.0, 2.0, 6.0, 24.0, 120.0)
    val cdf = fact.indices.map(k =>
      (0 to k).map(j => e1 / fact(j)).sum)
    cdf.map(c => math.floor(c * 4294967296.0).toLong)
  }

  /** Declarative schema-contract validation: a rule set (not-null,
    * range, enum, regex, date bounds — any row predicate — plus
    * unique-key constraints) evaluated into ONE tall report frame of
    * (rule_id, kind, violations, n_rows, pass). The
    * Great-Expectations-style data contract as a query: the gate a
    * pipeline runs on every ingest before promoting a snapshot,
    * subsuming the single-purpose validators ([[predicateViolations]],
    * [[uniqueKey]]) when a table carries many obligations.
    *
    * Scale shape: every ROW rule is a conditional sum cell in a
    * single combinable aggregation — one scan of the fact for the
    * whole rule set, |rules| cells per map task. Unique rules add
    * exact count-distinct cells (Spark plans them via expand — still
    * one pass over the scan, no per-rule jobs); the report explodes
    * from the one aggregated row, map-only. Rules where the
    * predicate is NULL count as violations (null-safe NOT). */
  def contractValidate(df: DataFrame,
                       rowRules: Seq[(String, Column)],
                       uniqueRules: Seq[(String, Seq[String])] = Nil): DataFrame = {
    require(rowRules.nonEmpty || uniqueRules.nonEmpty, "empty contract")
    val ids = rowRules.map(_._1) ++ uniqueRules.map(_._1)
    require(ids.distinct.size == ids.size, s"duplicate rule ids in $ids")
    val cells: Seq[Column] =
      rowRules.map { case (id, pred) =>
        sf.sum(sf.when(sf.coalesce(pred, sf.lit(false)), 0L).otherwise(1L))
          .as(s"__v_$id")
      } ++
      uniqueRules.map { case (id, keys) =>
        sf.count_distinct(sf.struct(keys.map(sf.col): _*)).as(s"__d_$id")
      } :+ sf.count(sf.lit(1)).as("__n")
    val agg = df.agg(cells.head, cells.tail: _*)
    val report =
      rowRules.map { case (id, _) =>
        sf.struct(sf.lit(id).as("rule_id"), sf.lit("row").as("kind"),
          sf.col(s"__v_$id").as("violations"))
      } ++
      uniqueRules.map { case (id, _) =>
        sf.struct(sf.lit(id).as("rule_id"), sf.lit("unique").as("kind"),
          (sf.col("__n") - sf.col(s"__d_$id")).as("violations"))
      }
    agg.select(sf.explode(sf.array(report: _*)).as("r"), sf.col("__n"))
      .select(sf.col("r.rule_id").as("rule_id"), sf.col("r.kind").as("kind"),
        sf.col("r.violations").as("violations"), sf.col("__n").as("n_rows"),
        (sf.col("r.violations") === 0L).as("pass"))
      .orderBy("rule_id")
  }

  /** Exact Pearson correlation for every pair of the given numeric
    * columns, in ONE scan. Values are quantized to 10^-4 fixed-point
    * longs (the dimensionProfile convention) and all five moment sums
    * accumulate in DECIMAL(38,0) — order-exact at any parallelism, so
    * the result is a pure function of the data, not of the partition
    * merge order (double sums drift in the last ulps; long sums of
    * products overflow around 2e6 rows). r is assembled in double from
    * the exact sums. Pairs where either side is constant return NULL r.
    *
    * Scale shape: a single-row combinable aggregate — one scan of the
    * fact, 6*nPairs partial cells per map task, then a map-only explode
    * of the one result row into (col_x, col_y) rows. Rows with a NULL
    * in either column of a pair drop from THAT pair only. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    def fx(c: String) = sf.floor(sf.col(c).cast("double") * 1e4 + 0.5).cast("long")
    def dec(c: Column) = c.cast("decimal(19,0)")
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      val both = sf.col(a).isNotNull && sf.col(b).isNotNull
      val xa = sf.when(both, fx(a))
      val xb = sf.when(both, fx(b))
      Seq(sf.count(xa).as(s"n_$i"),
        sf.sum(dec(xa)).as(s"sx_$i"), sf.sum(dec(xb)).as(s"sy_$i"),
        sf.sum(dec(xa) * dec(xa)).as(s"sxx_$i"),
        sf.sum(dec(xb) * dec(xb)).as(s"syy_$i"),
        sf.sum(dec(xa) * dec(xb)).as(s"sxy_$i"))
    }
    // 6*nPairs decimal accumulations per row: spread a single-split
    // local scan so the partial aggregation parallelizes
    val spread = graft.operators.Par.spread(df.select(cols.map(sf.col): _*))
    val entries = pairs.zipWithIndex.map { case ((a, b), i) =>
      val n = sf.col(s"n_$i").cast("double")
      val sx = sf.col(s"sx_$i").cast("double") / 1e4
      val sy = sf.col(s"sy_$i").cast("double") / 1e4
      val sxx = sf.col(s"sxx_$i").cast("double") / 1e8
      val syy = sf.col(s"syy_$i").cast("double") / 1e8
      val sxy = sf.col(s"sxy_$i").cast("double") / 1e8
      val den = sf.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      val r = sf.when(den > 0, gf.roundAt((n * sxy - sx * sy) / den, 6))
      sf.struct(sf.lit(a).as("col_x"), sf.lit(b).as("col_y"),
        sf.col(s"n_$i").as("n"), r.as("r"))
    }
    spread.agg(aggs.head, aggs.tail: _*)
      .select(sf.explode(sf.array(entries: _*)).as("e"))
      .select(sf.col("e.col_x"), sf.col("e.col_y"), sf.col("e.n"), sf.col("e.r"))
      .orderBy("col_x", "col_y")
  }

  /** Two-predictor multiple linear regression (OLS with intercept) via
    * the closed-form normal equations — the analytics-engine "explain
    * y from x1, x2" answer [[correlationMatrix]]'s pairwise r can't
    * give (it has no way to hold the other predictor fixed). The 3x3
    * system is solved by Cramer's rule on the moment determinants.
    *
    * Exactness: inputs snap to fixed-point integers (per-column
    * scales), all ten moment sums accumulate in DECIMAL(38,0) — exact
    * at any row count and partition order — and only the final
    * determinant assembly runs in pinned-order doubles: coefficients
    * snapped 1e-9, then SSE/R²/RMSE are DEFINED over the snapped
    * coefficients (both engines replay the identical formula).
    * Degenerate design (det = 0, e.g. collinear or constant
    * predictors) yields NULL coefficients, never a crash.
    *
    * Scale shape: ONE combinable single-row aggregate over the scan —
    * zero shuffles of data rows at any corpus size (the q87/q99
    * fixed-point moment pattern extended to the 10-sum design). */
  def ols2(df: DataFrame, yCol: String, x1Col: String, x2Col: String,
           yScale: Int = 2, x1Scale: Int = 0, x2Scale: Int = 2): DataFrame = {
    def fx(c: String, s: Int) =
      sf.floor(sf.col(c).cast("double") * sf.lit(math.pow(10, s)) + 0.5).cast("long")
    val rows = graft.operators.Par.spread(df
      .filter(sf.col(yCol).isNotNull && sf.col(x1Col).isNotNull &&
        sf.col(x2Col).isNotNull)
      .select(fx(yCol, yScale).as("__y"), fx(x1Col, x1Scale).as("__x1"),
        fx(x2Col, x2Scale).as("__x2")))
    val y = sf.col("__y"); val x1 = sf.col("__x1"); val x2 = sf.col("__x2")
    val agg = rows.agg(
      sf.count(sf.lit(1)).as("n"),
      sf.sum(dec(x1)).as("__s1"), sf.sum(dec(x2)).as("__s2"),
      sf.sum(dec(y)).as("__sy"),
      sf.sum(dec(x1) * dec(x1)).as("__s11"),
      sf.sum(dec(x1) * dec(x2)).as("__s12"),
      sf.sum(dec(x2) * dec(x2)).as("__s22"),
      sf.sum(dec(x1) * dec(y)).as("__s1y"),
      sf.sum(dec(x2) * dec(y)).as("__s2y"),
      sf.sum(dec(y) * dec(y)).as("__syy"))
    def sc(name: String, pow10: Int) =
      sf.col(name).cast("double") / sf.lit(math.pow(10, pow10))
    val nd = sf.col("n").cast("double")
    val s1 = sc("__s1", x1Scale); val s2 = sc("__s2", x2Scale)
    val sy = sc("__sy", yScale)
    val s11 = sc("__s11", 2 * x1Scale); val s12 = sc("__s12", x1Scale + x2Scale)
    val s22 = sc("__s22", 2 * x2Scale)
    val s1y = sc("__s1y", x1Scale + yScale); val s2y = sc("__s2y", x2Scale + yScale)
    val syy = sc("__syy", 2 * yScale)
    val det = nd * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val d0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val d1 = nd * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val d2 = nd * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    val ok = det =!= 0.0
    val stage = agg.select(sf.col("n"),
      sf.when(ok, gf.roundAt(d0 / det, 9)).as("beta0"),
      sf.when(ok, gf.roundAt(d1 / det, 9)).as("beta1"),
      sf.when(ok, gf.roundAt(d2 / det, 9)).as("beta2"),
      sy.as("__syd"), s1y.as("__s1yd"), s2y.as("__s2yd"), syy.as("__syyd"),
      nd.as("__nd"))
    val sse = sf.col("__syyd") - sf.col("beta0") * sf.col("__syd") -
      sf.col("beta1") * sf.col("__s1yd") - sf.col("beta2") * sf.col("__s2yd")
    val sst = sf.col("__syyd") -
      sf.col("__syd") * sf.col("__syd") / sf.col("__nd")
    stage.select(sf.col("n"), sf.col("beta0"), sf.col("beta1"), sf.col("beta2"),
      sf.when(sf.col("beta0").isNotNull && sst > 0,
        gf.roundAt(sf.lit(1.0) - sse / sst, 6)).as("r2"),
      sf.when(sf.col("beta0").isNotNull && sf.col("__nd") > 0,
        gf.roundAt(sf.sqrt(sf.greatest(sse, sf.lit(0.0)) / sf.col("__nd")), 6))
        .as("rmse"))
  }

  /** Mergeable per-group HLL distinct sketches (Apache DataSketches
    * via Spark's `hll_sketch_agg`) — the INCREMENTAL twin of
    * [[approxDistinct]]: a sketch COLUMN persists with the snapshot,
    * and tomorrow's distinct count is sketch(today) ∪ sketch(delta) —
    * no rescan of history, the q188 agg-state pattern for COUNT
    * DISTINCT (which has no algebraic state without a sketch).
    * `lgConfigK = 12` ≈ 1.6% relative standard error at ~4 KB per
    * group. One map-side-combined agg; sketch bytes are the only
    * shuffle payload. */
  def hllSketches(df: DataFrame, groupCol: String, valueCol: String,
                  lgConfigK: Int = 12): DataFrame =
    df.filter(sf.col(valueCol).isNotNull)
      .groupBy(sf.col(groupCol).as("group"))
      .agg(sf.hll_sketch_agg(sf.col(valueCol), sf.lit(lgConfigK)).as("sketch"))

  /** Distinct-count estimates from [[hllSketches]] output. */
  def hllEstimates(sketches: DataFrame): DataFrame =
    sketches.select(sf.col("group"),
      sf.hll_sketch_estimate(sf.col("sketch")).as("n_distinct_est"))
      .orderBy("group")

  /** Merge two sketch tables (e.g. yesterday's snapshot + today's
    * delta) into one — union semantics per group, exact algebraic
    * merge of the sketch state. */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("group")
      .agg(sf.hll_union_agg(sf.col("sketch"), sf.lit(false)).as("sketch"))

  /** Per-file column statistics of a parquet dataset — the data-
    * skipping manifest (Delta/Iceberg keep exactly this): for every
    * output file, each column's min/max and row count. A scan with a
    * predicate can skip any file whose [min, max] excludes it, so the
    * QUALITY of a layout (z-order, range clustering) is measurable as
    * how narrow these per-file ranges are. One map-side-combined
    * groupBy on the file name — cost is one scan of the footer-pruned
    * columns. */
  def fileStats(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val df = spark.read.parquet(path)
    val aggs = cols.flatMap(c => Seq(
      sf.min(sf.col(c)).as(s"min_$c"), sf.max(sf.col(c)).as(s"max_$c"))) :+
      sf.count(sf.lit(1)).as("n_rows")
    df.groupBy(sf.input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("file")
  }

  /** Robust outlier detection via median/MAD — the audit that survives
    * the outliers it hunts (mean/stddev z-scores are dragged by the
    * very tail they're meant to flag; the median absolute deviation
    * has a 50% breakdown point). Flags rows where
    * |x - median| > k * MAD and emits (id, value, mad_score); the
    * conventional k for "definite outlier" is 3-3.5 on roughly
    * symmetric data. When MAD = 0 (a majority-constant column) any
    * deviating row is flagged with NULL score — the k·MAD test would
    * flag them at any k, and a finite score is undefined.
    *
    * Both medians run through [[quantileProfile]]'s distinct-value
    * compression (shuffle proportional to the value DOMAIN, not the
    * row count — `percentile` buffers every row of a group and is an
    * OOM at 100 TB), each rounded at 4 decimals so any engine replays
    * the arithmetic exactly. The two scalar cuts then broadcast into
    * map-only filters: two compressed aggregation passes + two scans,
    * nothing else grows with the data. The grouping key is a
    * non-foldable constant (pmod of the id) because Spark's
    * EliminateWindowPartitions would strip a literal key and leave an
    * unbounded single-partition window WARNING for a frame that is
    * here genuinely bounded by the value domain. */
  def robustOutliers(df: DataFrame, idCol: String, valueCol: String,
                     k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val one = sf.pmod(sf.col(idCol).cast("long"), sf.lit(1L)) // non-foldable 0
    val med = quantileProfile(df.withColumn("__rg", one), "__rg", valueCol,
        Seq("p50" -> 0.5))
      .select(sf.col("p50").as("__med"))
    val withMed = df.crossJoin(sf.broadcast(med))
    val dev = sf.abs(sf.col(valueCol).cast("double") - sf.col("__med"))
    val mad = quantileProfile(
        withMed.withColumn("__rg", one).withColumn("__dev", dev), "__rg", "__dev",
        Seq("p50" -> 0.5))
      .select(sf.col("p50").as("__mad"))
    withMed.crossJoin(sf.broadcast(mad))
      .filter(sf.when(sf.col("__mad") > 0, dev > sf.col("__mad") * k)
        .otherwise(dev > 0))
      .select(sf.col(idCol),
        gf.roundAt(sf.col(valueCol).cast("double"), 4).as("value"),
        sf.when(sf.col("__mad") > 0, gf.roundAt(dev / sf.col("__mad"), 4))
          .as("mad_score"))
      .orderBy(idCol)
  }

  /** Winsorized (clipped) per-group stats: nearest-rank pLo/pHi
    * thresholds, values clamped into [lo, hi], then robust aggregates —
    * the outlier-resistant profile for numeric feature columns (a fat-
    * finger price or a parse-glitch token count no longer drags the
    * mean). Nearest-rank (lo = smallest v with ascending cumulative
    * count >= ceil(pLo·n)) rather than interpolation: the thresholds
    * are actual data values, deterministic and engine-portable with no
    * arithmetic to disagree on.
    *
    * Scale shape: the same distinct-value compression as
    * `quantileProfile` — the corpus reduces map-side to (group, value,
    * count); the cumulative window runs over that compressed table;
    * the thresholds join back (AQE broadcasts the few-groups case) for
    * what is effectively a map-only clamp + one combinable aggregate.
    * The raw rows never sort and never shuffle by value. */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
                      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0 <= pLo < pHi <= 1")
    import org.apache.spark.sql.expressions.Window
    // spread before the partial aggregation: a single-file local scan
    // is ONE task and the map-side distinct-value compression is the
    // CPU-heavy step (no-op on real multi-split inputs)
    val counts = graft.operators.Par.spread(
        df.select(sf.col(groupCol), sf.col(valueCol).cast("double").as("__v")))
      .filter(sf.col("__v").isNotNull)
      .groupBy(groupCol, "__v")
      .agg(sf.count(sf.lit(1)).as("__c"))
      .localCheckpoint(true) // both the window and the totals read it
    val cumW = Window.partitionBy(groupCol).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = counts.groupBy(groupCol).agg(sf.sum("__c").as("__n"))
      .withColumnRenamed(groupCol, "__g")
    val ranked = counts
      .withColumn("__cum", sf.sum("__c").over(cumW))
      .join(totals, sf.col(groupCol) <=> sf.col("__g"))
    def rankThr(p: Double) = sf.greatest(sf.ceil(sf.col("__n") * p), sf.lit(1L))
    val thresholds = ranked.groupBy(sf.col(groupCol).as("__tg"))
      .agg(sf.min(sf.when(sf.col("__cum") >= rankThr(pLo), sf.col("__v"))).as("__lo"),
        sf.min(sf.when(sf.col("__cum") >= rankThr(pHi), sf.col("__v"))).as("__hi"))
    val clipped = sf.least(sf.greatest(sf.col(valueCol).cast("double"),
      sf.col("__lo")), sf.col("__hi"))
    // AQE-decided join (not a forced broadcast): the threshold table is
    // group-domain-sized and a high-cardinality group column must not
    // OOM the driver — same rationale as quantileProfile's totals join
    df.filter(sf.col(valueCol).isNotNull)
      .join(thresholds, sf.col(groupCol) <=> sf.col("__tg"))
      .groupBy(sf.col(groupCol))
      .agg(sf.count(sf.lit(1)).as("n_rows"),
        gf.roundAt(sf.min("__lo"), 4).as("p_lo"),
        gf.roundAt(sf.min("__hi"), 4).as("p_hi"),
        sf.sum((sf.col(valueCol).cast("double") < sf.col("__lo")).cast("long")
          + (sf.col(valueCol).cast("double") > sf.col("__hi")).cast("long"))
          .as("n_clipped"),
        gf.roundAt(sf.sum(clipped) / sf.count(sf.lit(1)), 4).as("winsorized_mean"))
      .orderBy(groupCol)
  }
  /** Functional-dependency audit: does `detCol` determine `depCol`?
    * Reports, per violating determinant value, how many DISTINCT
    * dependent values it maps to and how many rows sit outside the
    * majority mapping — the schema-inference / data-contract check
    * ("order_id should determine customer_id") that catches silent
    * denormalization drift.
    *
    * Scale shape: one (det, dep) distinct-pair aggregation (map-side
    * combinable), one det-keyed rollup over the PAIR domain — row
    * counts ride the same pass; the output is violations-only. */
  def fdViolations(df: DataFrame, detCol: String, depCol: String): DataFrame = {
    val pairs = df.filter(sf.col(detCol).isNotNull)
      .groupBy(sf.col(detCol).as("det"), sf.col(depCol).as("dep"))
      .agg(sf.count(sf.lit(1)).as("__c"))
    pairs.groupBy("det")
      .agg(sf.count(sf.lit(1)).as("n_distinct_dep"),
        sf.sum("__c").as("n_rows"),
        (sf.sum("__c") - sf.max("__c")).as("n_minority_rows"))
      .filter(sf.col("n_distinct_dep") > 1)
      .orderBy(sf.col("n_minority_rows").desc, sf.col("det"))
  }

  /** Benford first-significant-digit audit: the observed first-digit
    * distribution of a positive numeric column against Benford's law
    * (P(d) = log10(1 + 1/d)) — the classic fabricated-data /
    * unit-mixing detector for financial and measurement columns.
    * The value snaps to exact integer cents first and the digit is
    * the integer string's first character — integer rendering is
    * identical in every engine (float-to-string is NOT), and no libm
    * log10 runs at a power-of-ten boundary. Shifting by 100 never
    * changes the leading significant digit; sub-cent values drop.
    *
    * Determinism: digit counts are exact; observed fractions are one
    * exact-long division rounded 1e-4; expected fractions are the
    * same ln-ratio double expression both engines.
    *
    * Scale shape: map-only digit extraction, one combinable
    * aggregation to at most 9 rows. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val cents = sf.floor(sf.col(valueCol).cast("double") * 100 + 0.5).cast("long")
    val counts = df
      .filter(sf.col(valueCol).isNotNull && sf.col(valueCol) > 0)
      .select(cents.as("__cents"))
      .filter(sf.col("__cents") >= 1)
      .select(sf.substring(sf.col("__cents").cast("string"), 1, 1).as("d"))
      .groupBy("d").agg(sf.count(sf.lit(1)).as("n"))
    val tot = counts.agg(sf.sum("n").as("n_total"))
    counts.crossJoin(sf.broadcast(tot))
      .select(sf.col("d").cast("int").as("digit"), sf.col("n"),
        gf.roundAt(sf.col("n").cast("double") / sf.col("n_total").cast("double"), 4)
          .as("frac_observed"),
        gf.roundAt(
          sf.log(sf.lit(1.0) + sf.lit(1.0) / sf.col("d").cast("double")) /
            sf.log(sf.lit(10.0)), 4).as("frac_benford"))
      .orderBy("digit")
  }

  /** Exact join-size forecast for a planned equi join: per key,
    * c_left · c_right output rows, reported for the top contributing
    * keys — the two-sided companion of the single-table
    * [[joinKeySkew]] profile. Run it before sizing a fact⋈fact join:
    * the top row IS the skew-join hot key, and the pair counts say
    * whether the join explodes (both sides heavy) or merely fans out
    * (one side heavy — broadcast/salt decides).
    *
    * Scale shape: each side collapses to its key-count domain first
    * (map-side combinable), the count tables join on the key
    * (AQE-decided — key domains can exceed broadcast size), and the
    * top-k is a TakeOrdered, never a full sort. NULL keys drop, like
    * in the real join. */
  def joinSizeProfile(left: DataFrame, leftKey: String,
                      right: DataFrame, rightKey: String,
                      topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val ca = left.select(sf.col(leftKey).as("key")).filter(sf.col("key").isNotNull)
      .groupBy("key").agg(sf.count(sf.lit(1)).as("c_left"))
    val cb = right.select(sf.col(rightKey).as("key")).filter(sf.col("key").isNotNull)
      .groupBy("key").agg(sf.count(sf.lit(1)).as("c_right"))
    ca.join(cb, "key")
      .select(sf.col("key"), sf.col("c_left"), sf.col("c_right"),
        (sf.col("c_left") * sf.col("c_right")).as("pairs"))
      .orderBy(sf.col("pairs").desc, sf.col("key"))
      .limit(topK)
  }

  /** Exact weighted quantile per group: the smallest value v whose
    * cumulative weight reaches `num`/`den` of the group's total weight
    * (num=1, den=2 -> the lower weighted median). The curation form of
    * the median — "the doc length at which half the TOKEN MASS sits
    * below" answers budget questions row-median can't (a few huge docs
    * carry most of the training mass).
    *
    * Determinism: weights and values aggregate as exact integers after
    * (group, value) domain compression; the threshold test
    * cum·den >= tot·num is integer arithmetic — no division anywhere.
    *
    * Scale shape: domain compression first (map-side combinable, the
    * winsorizedStats pattern), ONE partitioned cumulative window over
    * the compressed (group, value) domain — never an unpartitioned
    * window — and a group-domain-sized rollup. Only (group, value,
    * weight) triples shuffle. */
  def weightedQuantile(df: DataFrame, groupCol: String, valueCol: String,
                       weightCol: String, num: Int = 1, den: Int = 2): DataFrame = {
    require(num >= 1 && num <= den && den >= 1,
      s"need 1 <= num <= den, got $num/$den")
    import org.apache.spark.sql.expressions.Window
    val vw = graft.operators.Par.spread(
        df.select(sf.col(groupCol), sf.col(valueCol).cast("long").as("__v"),
          sf.col(weightCol).cast("long").as("__w")))
      .filter(sf.col("__v").isNotNull && sf.col("__w").isNotNull && sf.col("__w") > 0)
      .groupBy(groupCol, "__v")
      .agg(sf.sum("__w").as("__w"))
    val cumW = Window.partitionBy(groupCol).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(groupCol)
    vw.withColumn("__cum", sf.sum("__w").over(cumW))
      .withColumn("__tot", sf.sum("__w").over(totW))
      .filter(sf.col("__cum") * den >= sf.col("__tot") * num)
      .groupBy(groupCol)
      .agg(sf.max("__tot").as("total_w"), sf.min("__v").as("q_value"))
      .orderBy(groupCol)
  }

  /** Calibration reliability bins + expected calibration error (ECE)
    * for a probabilistic classifier: rows carry a confidence in [0, 1]
    * and a 0/1 outcome; each lands in one of `nBins` equal-width bins,
    * and per bin we report size, mean confidence, empirical accuracy,
    * and the |accuracy - confidence| gap; ECE is the size-weighted mean
    * gap. The model-monitoring twin of the PSI drift check: PSI says
    * the INPUT distribution moved, ECE says the model's probabilities
    * stopped meaning what they claim.
    *
    * Determinism: confidence is snapped to 1e-4 resolution up front
    * (absorbing cross-engine libm ulps, the q62 ln convention), so bin
    * assignment and the per-bin confidence sums are exact integer
    * arithmetic; accuracy/gap assemble from exact counts in pinned
    * double expressions; ECE's cross-bin sum is an exact BIGINT sum of
    * per-bin floor-scaled gaps with ONE final division.
    *
    * Scale shape: one combinable aggregation to nBins rows, then a
    * <= nBins-row rollup cross-joined back — shuffle volume is nBins
    * rows per map task regardless of input size. */
  def calibration(df: DataFrame, confCol: String, outcomeCol: String,
                  nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 10000, s"nBins must be in [2, 10000], got $nBins")
    val conf4 = sf.floor(sf.col(confCol).cast("double") * 1e4 + 0.5).cast("long")
    val binned = df
      .filter(sf.col(confCol).isNotNull && sf.col(outcomeCol).isNotNull)
      .select(conf4.as("__c4"), sf.col(outcomeCol).cast("long").as("__y"))
      .withColumn("bin", sf.least(sf.expr(s"(__c4 * $nBins) div 10000"),
        sf.lit(nBins - 1L)))
      .groupBy("bin")
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(sf.col("__c4")).as("__s_c4"),
        sf.sum(sf.col("__y")).as("n_pos"))
    val withGap = binned.select(
      sf.col("bin"), sf.col("n"), sf.col("n_pos"),
      (sf.col("__s_c4").cast("double") / 1e4 / sf.col("n").cast("double")).as("__conf"),
      (sf.col("n_pos").cast("double") / sf.col("n").cast("double")).as("__acc"))
      .withColumn("__gap_fx",
        sf.floor(sf.abs(sf.col("__acc") - sf.col("__conf")) * 1e6 + 0.5).cast("long"))
    val ece = withGap.agg(
      sf.sum(sf.col("n")).as("__n_total"),
      sf.sum(sf.col("n") * sf.col("__gap_fx")).as("__gap_total"))
    withGap.crossJoin(ece)
      .select(sf.col("bin"), sf.col("n"), sf.col("n_pos"),
        gf.roundAt(sf.col("__conf"), 4).as("avg_conf"),
        gf.roundAt(sf.col("__acc"), 4).as("accuracy"),
        gf.roundAt(sf.col("__gap_fx").cast("double") / 1e6, 4).as("gap"),
        gf.roundAt(sf.col("__gap_total").cast("double") /
          (sf.col("__n_total").cast("double") * 1e6), 4).as("ece"))
      .orderBy("bin")
  }

  /** Cramér–von Mises two-sample statistic (Cramér 1928; the
    * two-sample grid form of Anderson 1962): the INTEGRAL companion of
    * [[ksTest]]'s supremum — KS sees only the single worst ECDF gap,
    * CvM accumulates EVERY gap,
    *
    *   T = (m·n/N²) · Σ_v t_v · (F_A(v) − F_B(v))²
    *
    * over the pooled distinct values (inclusive ECDFs, t_v pooled
    * multiplicity) — the standard tie-friendly grid estimator, more
    * powerful against diffuse distributional drift than the one-point
    * KS. Read T against its asymptotic table (0.461 ≈ 5%); the
    * statistic itself is the drift SIZE a monitoring dashboard trends.
    *
    * Determinism: with cumA/cumB/t exact integers, each grid term is
    * the exact integer (cumA·n − cumB·m)² · t_v accumulating in
    * DECIMAL(38,0) and T is ONE pinned double division by m·n·N²,
    * rounded 1e-6. An empty side gives n = 0 and a NULL statistic.
    *
    * Scale shape: the [[valueDomain]] collapse + ONE
    * range-partitioned multi-column prefix pass
    * ([[graft.operators.StarSchema.globalPrefixSumsMulti]] — the
    * row-340 rule) + a single-row reduce. */
  def cramerVonMises(dfA: DataFrame, dfB: DataFrame,
                     valueCol: String): DataFrame = {
    val cells = valueDomain(dfA, dfB, sf.col(valueCol).cast("double"))
      .withColumn("__t", sf.col("__ca") + sf.col("__cb"))
      .localCheckpoint(true) // prefix + totals read it
    val tot = cells.agg(sf.sum("__ca").cast("long").as("__m"),
      sf.sum("__cb").cast("long").as("__n"),
      sf.count(sf.lit(1)).as("n_values"))
    val num = graft.operators.StarSchema
      .globalPrefixSumsMulti(cells, Seq("__v"),
        Seq("__ca" -> "__cumA", "__cb" -> "__cumB"))
      .crossJoin(sf.broadcast(tot))
      .select({
        val gap = dec(sf.col("__cumA")) * dec(sf.col("__n")) -
          dec(sf.col("__cumB")) * dec(sf.col("__m"))
        (dec(sf.col("__t")) * gap * gap).as("__term")
      })
      .agg(sf.sum("__term").as("__num"))
    num.crossJoin(sf.broadcast(tot))
      .select({
        val mD = sf.col("__m").cast("double")
        val nD = sf.col("__n").cast("double")
        val bigN = mD + nD
        Seq(sf.coalesce(sf.col("__m"), sf.lit(0L)).as("n_a"),
          sf.coalesce(sf.col("__n"), sf.lit(0L)).as("n_b"),
          sf.col("n_values"),
          sf.when(sf.col("__m") > 0 && sf.col("__n") > 0, gf.roundAt(
            sf.col("__num").cast("double") / (mD * nD * bigN * bigN), 6))
            .as("cvm_t"))
      }: _*)
  }

  /** Two-sample energy distance (Székely & Rizzo 2004), V-statistic
    * form: D² = 2E|X−Y| − E|X−X'| − E|Y−Y'| — the distribution
    * distance that is ZERO iff the distributions are equal and is
    * computed here EXACTLY in one linear pass: on the sorted pooled
    * value domain, every Σ|x−y| collapses to prefix identities
    * (Σ_{y≤v}(v−y) = v·cnt_≤(v) − sum_≤(v), ties self-cancelling), so
    * the all-pairs statistic never enumerates a pair. The
    * metric-space companion of [[wassersteinDistance]] (same family of
    * integral-probability metrics; energy weights large gaps
    * quadratically less, so it is the robust default for drift
    * monitors) and the exact ground truth for any subsampled energy
    * test.
    *
    * Determinism: values on the exact 1e-4 grid; the four prefix
    * columns (counts and value-mass per side) ride ONE
    * range-partitioned [[graft.operators.StarSchema.globalPrefixSumsMulti]]
    * pass (row-340 rule); every contribution is an exact
    * DECIMAL(38,0) product; the three expectations and D² are one
    * pinned assembly rounded 1e-4 (D² 1e-6). An empty side gives n = 0
    * and NULL statistics.
    *
    * Scale shape: the [[valueDomain]] collapse (on the 1e-4 grid) + the
    * multi-column prefix pass + a single-row reduce. */
  def energyDistance(dfA: DataFrame, dfB: DataFrame,
                     valueCol: String): DataFrame = {
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val cells = valueDomain(dfA, dfB, v4)
      .select(sf.col("__v"), sf.col("__ca"), sf.col("__cb"),
        (dec(sf.col("__v")) * dec(sf.col("__ca"))).as("__ma"),
        (dec(sf.col("__v")) * dec(sf.col("__cb"))).as("__mb"))
      .localCheckpoint(true) // prefix + totals read it
    val tot = cells.agg(sf.sum("__ca").cast("long").as("__m"),
      sf.sum("__cb").cast("long").as("__n"))
    val sums = graft.operators.StarSchema
      .globalPrefixSumsMulti(cells, Seq("__v"),
        Seq("__ca" -> "__cca", "__cb" -> "__ccb",
          "__ma" -> "__csa", "__mb" -> "__csb"))
      .select({
        val below = (tag: String) =>
          dec(sf.col("__v")) * dec(sf.col(s"__cc$tag")) - sf.col(s"__cs$tag")
        Seq((dec(sf.col("__ca")) * below("b") + dec(sf.col("__cb")) * below("a"))
            .as("__xy"),
          (dec(sf.col("__ca")) * below("a")).as("__xx"),
          (dec(sf.col("__cb")) * below("b")).as("__yy"))
      }: _*)
      .agg(sf.sum("__xy").as("__sxy"), sf.sum("__xx").as("__sxx"),
        sf.sum("__yy").as("__syy"))
    sums.crossJoin(sf.broadcast(tot))
      .select({
        val m = sf.col("__m").cast("double")
        val n = sf.col("__n").cast("double")
        val exy = sf.col("__sxy").cast("double") / (m * n) / 1e4
        val exx = sf.col("__sxx").cast("double") * 2 / (m * m) / 1e4
        val eyy = sf.col("__syy").cast("double") * 2 / (n * n) / 1e4
        val ok = sf.col("__m") > 0 && sf.col("__n") > 0
        Seq(sf.coalesce(sf.col("__m"), sf.lit(0L)).as("n_a"),
          sf.coalesce(sf.col("__n"), sf.lit(0L)).as("n_b"),
          sf.when(ok, gf.roundAt(exy, 4)).as("e_xy"),
          sf.when(ok, gf.roundAt(exx, 4)).as("e_xx"),
          sf.when(ok, gf.roundAt(eyy, 4)).as("e_yy"),
          sf.when(ok, gf.roundAt(exy * 2 - exx - eyy, 6)).as("energy_dist"))
      }: _*)
  }

  /** Anderson–Darling two-sample statistic, tie-adjusted midrank form
    * A²_akN (Scholz & Stephens 1987, eq. 7 — scipy's
    * `anderson_ksamp(midrank=True)` twin at k = 2): the
    * TAIL-WEIGHTED member of the ECDF-distance family — [[ksTest]]
    * sees the single worst gap, [[cramerVonMises]] integrates every
    * gap uniformly, and A² divides each squared gap by B(N−B) so
    * deviations in the DISTRIBUTION TAILS (where B ≈ 0 or N, exactly
    * the heavy-tail regime every latency/length column lives in) count
    * most. Under H₀, E[A²] = k − 1 = 1; the raw statistic is the
    * trendable drift size (the [[cramerVonMises]] reporting
    * convention — no variance standardization, whose harmonic-sum
    * constants are O(N)-term series with no closed exact form).
    *
    *   A² = (N−1)/N · Σ_k (1/n_k) Σ_v (t_v/N)·(N·M_kv − B_v·n_k)²
    *        / (B_v(N−B_v) − N·t_v/4)
    *
    * with midrank counts M_kv = F_k(v) − f_kv/2, B_v = F(v) − t_v/2.
    *
    * Determinism: midrank counts are exact half-integers carried
    * 2-SCALED (the [[brunnerMunzel]] grid), so each grid term's
    * numerator and denominator are exact integers; the per-value
    * rational (denominators vary per value) snaps to the 1e-12 grid in
    * DECIMAL(38,12)-space before the unordered sum (the entropy-family
    * convention), and A² is one pinned assembly rounded 1e-6. The
    * degenerate all-one-value grid cell (B(N−B) = N·t/4 ⟺ t = N)
    * yields NULL. An empty side gives n = 0 and a NULL statistic.
    *
    * Scale shape: the [[valueDomain]] collapse, ONE range-partitioned
    * multi-column prefix pass, a single-row reduce. */
  def andersonDarling(dfA: DataFrame, dfB: DataFrame,
                      valueCol: String): DataFrame = {
    val cells = valueDomain(dfA, dfB, sf.col(valueCol).cast("double"))
      .withColumn("__t", sf.col("__ca") + sf.col("__cb"))
      .localCheckpoint(true) // prefix + totals read it
    val tot = cells.agg(sf.sum("__ca").cast("long").as("__m"),
      sf.sum("__cb").cast("long").as("__n"),
      sf.count(sf.lit(1)).as("n_values"))
    val terms = graft.operators.StarSchema
      .globalPrefixSumsMulti(cells, Seq("__v"),
        Seq("__ca" -> "__cumA", "__cb" -> "__cumB", "__t" -> "__cum"))
      .crossJoin(sf.broadcast(tot))
      .select({
        val bigN = sf.col("__m") + sf.col("__n")
        // 2-scaled midrank counts: B2 = 2F - t, M2_k = 2F_k - f_k
        val b2 = dec(sf.col("__cum")) * 2 - dec(sf.col("__t"))
        val ma2 = dec(sf.col("__cumA")) * 2 - dec(sf.col("__ca"))
        val mb2 = dec(sf.col("__cumB")) * 2 - dec(sf.col("__cb"))
        val gapA = dec(bigN) * ma2 - b2 * dec(sf.col("__m"))
        val gapB = dec(bigN) * mb2 - b2 * dec(sf.col("__n"))
        // 4x the real denominator; the /4s cancel against the 2-scale
        // squared gaps. Zero only at t = N (single pooled value).
        val den4 = b2 * (dec(bigN) * 2 - b2) - dec(bigN) * dec(sf.col("__t"))
        def inner(gap: Column, size: Column) =
          dec(sf.col("__t")).cast("double") * gap.cast("double") / den4.cast("double") *
            gap.cast("double") / bigN.cast("double") / size.cast("double")
        def snap12(c: Column) =
          sf.floor(c * 1e12 + 0.5).cast("decimal(38,0)")
        sf.when(sf.col("__m") > 0 && sf.col("__n") > 0 && den4 > 0,
          snap12(inner(gapA, sf.col("__m")) + inner(gapB, sf.col("__n"))))
          .as("__t12")
      })
      .agg(sf.sum("__t12").as("__s12"))
    terms.crossJoin(sf.broadcast(tot))
      .select({
        val bigN = (sf.col("__m") + sf.col("__n")).cast("double")
        val ok = sf.col("__m") > 0 && sf.col("__n") > 0 &&
          sf.col("__s12").isNotNull
        Seq(sf.coalesce(sf.col("__m"), sf.lit(0L)).as("n_a"),
          sf.coalesce(sf.col("__n"), sf.lit(0L)).as("n_b"),
          sf.col("n_values"),
          sf.when(ok, gf.roundAt(sf.col("__s12").cast("double") / 1e12 *
            (bigN - 1) / bigN, 6)).as("ad_stat"))
      }: _*)
  }

  /** Brunner–Munzel test (Brunner & Munzel 2000, Biom. J. — the
    * "generalized Wilcoxon" modern practice recommends OVER
    * [[mannWhitneyU]] when spreads differ): tests the RELATIVE EFFECT
    * p = P(X < Y) + ½P(X = Y) without MWU's equal-variance-under-null
    * assumption, with a Welch–Satterthwaite df — the rank analogue of
    * preferring Welch's t to Student's t. Reported: p̂ (the effect —
    * ½ = stochastic equality), W, and the df.
    *
    *   p̂ = (R̄₂ − (n₂+1)/2)/n₁,
    *   W = n₁n₂(R̄₂ − R̄₁)/(N·√(n₁S₁² + n₂S₂²)),
    *   S_k² = Σ_i (R_i − R_i^(k) − R̄_k + (n_k+1)/2)²/(n_k−1),
    *   df = (n₁S₁² + n₂S₂²)²/((n₁S₁²)²/(n₁−1) + (n₂S₂²)²/(n₂−1)),
    *
    * with pooled midranks R and within-sample midranks R^(k) (ties by
    * midrank throughout — the standard formulation).
    *
    * Determinism: all midranks live EXACTLY on the half-integer grid
    * (2-scale integers), and since the within-rank mean is exactly
    * (n_k+1)/2, S_k² reduces to the MOMENT form over x = R − R^(k):
    * S_k² = (Σcx² − (Σcx)²/n_k)/(4(n_k−1)) at 2-scale — the unordered
    * sums Σcx, Σcx² are exact DECIMAL(38,0) (≲ 4N³, inside 38 digits
    * to N ~ 10¹²) and p̂/W/df are ONE pinned double assembly rounded
    * 1e-6/1e-6/1e-4. Degenerate variance (all ranks tied) yields NULL
    * W/df; an empty side gives n = 0 and NULL statistics.
    *
    * Scale shape: the [[valueDomain]] collapse + ONE range-partitioned
    * THREE-column prefix pass + a single-row moment reduce + broadcast
    * scalars. */
  def brunnerMunzel(dfA: DataFrame, dfB: DataFrame,
                    valueCol: String): DataFrame = {
    val cells = valueDomain(dfA, dfB, sf.col(valueCol).cast("double"))
      .withColumn("__t", sf.col("__ca") + sf.col("__cb"))
      .localCheckpoint(true) // prefix + totals read it
    val tot = cells.agg(sf.sum("__ca").cast("long").as("__m"),
      sf.sum("__cb").cast("long").as("__n"))
    val pre = graft.operators.StarSchema
      .globalPrefixSumsMulti(cells, Seq("__v"),
        Seq("__ca" -> "__cumA", "__cb" -> "__cumB", "__t" -> "__cum"))
      .crossJoin(sf.broadcast(tot))
    // 2-scale midranks: pooled and within-sample
    val pmid2 = (sf.col("__cum") - sf.col("__t")) * 2 + sf.col("__t") + 1
    val amid2 = (sf.col("__cumA") - sf.col("__ca")) * 2 + sf.col("__ca") + 1
    val bmid2 = (sf.col("__cumB") - sf.col("__cb")) * 2 + sf.col("__cb") + 1
    val sums = pre.select({
        val x2a = pmid2 - amid2
        val x2b = pmid2 - bmid2
        Seq((dec(sf.col("__ca")) * dec(pmid2)).as("__rp1"),
          (dec(sf.col("__cb")) * dec(pmid2)).as("__rp2"),
          (dec(sf.col("__ca")) * dec(x2a)).as("__x1"),
          (dec(sf.col("__cb")) * dec(x2b)).as("__x2"),
          (dec(sf.col("__ca")) * dec(x2a) * dec(x2a)).as("__xx1"),
          (dec(sf.col("__cb")) * dec(x2b) * dec(x2b)).as("__xx2"))
      }: _*)
      .agg(sf.sum("__rp1").as("__ra2"), sf.sum("__rp2").as("__rb2"),
        sf.sum("__x1").as("__sx1"), sf.sum("__x2").as("__sx2"),
        sf.sum("__xx1").as("__sxx1"), sf.sum("__xx2").as("__sxx2"))
    sums.crossJoin(sf.broadcast(tot))
      .select({
        val mD = sf.col("__m").cast("double")
        val nD = sf.col("__n").cast("double")
        val bigN = mD + nD
        // rank means from the exact 2-scale sums
        val r1 = sf.col("__ra2").cast("double") / 2 / mD
        val r2 = sf.col("__rb2").cast("double") / 2 / nD
        // S_k^2 via the moment identity over x = R - R^(k) at 2-scale
        // (the within-midrank mean is exactly (n_k+1)/2)
        val s1 = (sf.col("__sxx1").cast("double") -
          sf.col("__sx1").cast("double") * sf.col("__sx1").cast("double") / mD) /
          ((mD - 1) * 4)
        val s2 = (sf.col("__sxx2").cast("double") -
          sf.col("__sx2").cast("double") * sf.col("__sx2").cast("double") / nD) /
          ((nD - 1) * 4)
        val v1 = mD * s1
        val v2 = nD * s2
        val pHat = (r2 - (nD + 1) / 2) / mD
        val w = mD * nD * (r2 - r1) / (bigN * sf.sqrt(v1 + v2))
        val df = (v1 + v2) * (v1 + v2) /
          (v1 * v1 / (mD - 1) + v2 * v2 / (nD - 1))
        val ok = sf.col("__m") > 1 && sf.col("__n") > 1 && (v1 + v2) > 0
        Seq(sf.coalesce(sf.col("__m"), sf.lit(0L)).as("n_a"),
          sf.coalesce(sf.col("__n"), sf.lit(0L)).as("n_b"),
          sf.when(sf.col("__m") > 0 && sf.col("__n") > 0, gf.roundAt(pHat, 6))
            .as("p_hat"),
          sf.when(ok, gf.roundAt(w, 6)).as("w_stat"),
          sf.when(ok, gf.roundAt(df, 4)).as("df"))
      }: _*)
  }

  /** Hosmer–Lemeshow goodness-of-fit test (Hosmer & Lemeshow 1980):
    * the χ²-style HYPOTHESIS TEST over [[calibration]]'s reliability
    * bins — HL = Σ_bins (O_b − E_b)²/(E_b·(1 − E_b/n_b)) with
    * bins−2 df, where E_b is the bin's expected positives (the sum of
    * its confidences) — the classical decision companion to the
    * descriptive ECE and the binned counterpart of the binning-free
    * [[spiegelhalterZ]] (run both: HL localizes which probability
    * region misfits, Z is grid-free). Bins whose expected rate is
    * degenerate (E = 0 or E = n) contribute 0 (documented — with
    * snapped sigmoid confidences this is the empty-tail convention).
    *
    * Determinism: confidences snap to the 1e-4 grid (the
    * [[calibration]] binning, identical bin assignment); per-bin terms
    * are pinned doubles snapped 1e-6 before the (≤ nBins-row) sum (the
    * [[chiSquared]] convention), the statistic rounds 1e-4.
    *
    * Scale shape: ONE map-side-combinable bin collapse + a ≤ nBins-row
    * finish. */
  def hosmerLemeshow(df: DataFrame, confCol: String, outcomeCol: String,
                     nBins: Int = 10): DataFrame = {
    require(nBins >= 3 && nBins <= 10000, s"nBins must be in [3, 10000], got $nBins")
    val conf4 = sf.floor(sf.col(confCol).cast("double") * 1e4 + 0.5).cast("long")
    val binned = df
      .filter(sf.col(confCol).isNotNull && sf.col(outcomeCol).isNotNull)
      .select(conf4.as("__c4"), sf.col(outcomeCol).cast("long").as("__y"))
      .withColumn("bin", sf.least(sf.expr(s"(__c4 * $nBins) div 10000"),
        sf.lit(nBins - 1L)))
      .groupBy("bin")
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(sf.col("__c4")).as("__s_c4"),
        sf.sum(sf.col("__y")).as("__o"))
    val e = sf.col("__s_c4").cast("double") / 1e4
    val o = sf.col("__o").cast("double")
    val nD = sf.col("n").cast("double")
    val term = sf.when(e > 0 && e < nD,
        sf.floor((o - e) * (o - e) / (e * (sf.lit(1.0) - e / nD)) * 1e6 + 0.5)
          .cast("long"))
      .otherwise(0L)
    binned.agg(sf.count(sf.lit(1)).as("n_bins"),
        sf.sum("n").cast("long").as("n"),
        sf.sum(term).as("__hl6"))
      .select(sf.col("n_bins"), sf.col("n"),
        gf.roundAt(sf.col("__hl6").cast("double") / 1e6, 4).as("hl_chi2"),
        (sf.col("n_bins") - 2).as("dof"))
  }

  /** Ansari–Bradley scale test (Ansari & Bradley 1960): do two samples
    * share the same DISPERSION around a common median — the SCALE
    * companion of [[mannWhitneyU]]'s location test (MWU asks "is B
    * shifted", A–B asks "is B more spread out": a source whose doc
    * lengths have the same median but twice the spread needs a
    * different cap policy, not a different mixture weight). Scores run
    * from both ends inward — s(r) = min(r, N+1−r) — so SMALL statistic
    * = sample A sits in the tails (more spread).
    *
    * Tie convention (documented): each tied VALUE takes the score of
    * its MIDRANK, held exact on the half-integer grid (2·midrank
    * integers; scores at 2-scale, squares at 4-scale), and the null
    * moments are the standard conditional-permutation moments of the
    * realized score multiset — mean = m·Σs/N,
    * var = m·n·(N·Σs² − (Σs)²)/(N²(N−1)) — which reduce to the
    * textbook AB moments when ties are absent. Values compress on the
    * raw double domain by equality (the [[mannWhitneyU]] convention).
    *
    * Determinism: score sums accumulate exact DECIMAL(38,0) at the
    * fixed scales; z is ONE pinned double assembly rounded 1e-6; a
    * degenerate score variance yields NULL z; an empty side gives
    * n = 0 and NULL statistics.
    *
    * Scale shape: the [[valueDomain]] collapse + ONE range-partitioned
    * prefix pass ([[graft.operators.StarSchema.globalPrefixSums]] —
    * the row-340 rule) + a single-row moment aggregation + broadcast
    * scalars. */
  def ansariBradley(dfA: DataFrame, dfB: DataFrame,
                    valueCol: String): DataFrame = {
    val cells = valueDomain(dfA, dfB, sf.col(valueCol).cast("double"))
      .withColumn("__t", sf.col("__ca") + sf.col("__cb"))
      .localCheckpoint(true) // prefix + totals read it
    val tot = cells.agg(sf.sum("__ca").cast("long").as("__m"),
      sf.sum("__cb").cast("long").as("__n"))
    val scored = graft.operators.StarSchema
      .globalPrefixSums(cells, Seq("__v"), "__t", "__cum")
      .crossJoin(sf.broadcast(tot))
      .select(sf.col("__ca"), sf.col("__t"), {
        // midrank at 2-scale: 2*(cumBefore) + t + 1; score from the
        // nearer end, still at 2-scale
        val mr2 = (sf.col("__cum") - sf.col("__t")) * 2 + sf.col("__t") + 1
        val n2 = (sf.col("__m") + sf.col("__n") + 1) * 2
        sf.least(mr2, n2 - mr2).as("__s2")
      })
    val agg = scored.agg(
      sf.sum(dec(sf.col("__ca")) * dec(sf.col("__s2"))).as("__ab2"),
      sf.sum(dec(sf.col("__t")) * dec(sf.col("__s2"))).as("__ss2"),
      sf.sum(dec(sf.col("__t")) * dec(sf.col("__s2")) * dec(sf.col("__s2")))
        .as("__ss4"))
    agg.crossJoin(sf.broadcast(tot))
      .select({
        val mD = sf.col("__m").cast("double")
        val nD = sf.col("__n").cast("double")
        val bigN = mD + nD
        val ab2 = sf.col("__ab2").cast("double")
        val mean2 = mD * sf.col("__ss2").cast("double") / bigN
        val var4 = mD * nD *
          ((dec(sf.col("__m") + sf.col("__n")) * sf.col("__ss4") -
            sf.col("__ss2") * sf.col("__ss2")).cast("double")) /
          (bigN * bigN * (bigN - 1))
        val both = sf.col("__m") > 0 && sf.col("__n") > 0
        Seq(sf.coalesce(sf.col("__m"), sf.lit(0L)).as("n_a"),
          sf.coalesce(sf.col("__n"), sf.lit(0L)).as("n_b"),
          sf.when(both, gf.roundAt(ab2 / 2, 4)).as("ab_stat"),
          sf.when(both, gf.roundAt(mean2 / 2, 4)).as("ab_mean"),
          sf.when(both && var4 > 0, gf.roundAt((ab2 - mean2) / sf.sqrt(var4), 6))
            .as("z"))
      }: _*)
  }

  /** Mood's median test (Mood 1950): do several groups share the same
    * MEDIAN — the nonparametric location screen that, unlike
    * [[kruskalWallis]]'s rank sums, only asks which side of the POOLED
    * median each observation falls on, so it is maximally robust to
    * outliers and wildly unequal spreads (the trade: less power when
    * distributions are well-behaved — the classic pairing is "KW for
    * shape-alike groups, Mood's for contaminated ones"). Each row is
    * labeled above/not-above the pooled lower-weighted median, and the
    * G×2 contingency gets the standard χ² with G−1 df.
    *
    * Integer/bucketed values are the CONTRACT (the row-340 hodges
    * convention, cast to long): the pooled median is then an exact
    * integer — the smallest value v with 2·cumW ≥ totW — computed on
    * the VALUE domain via [[graft.operators.StarSchema.globalPrefixSums]]
    * (never a one-task sort), and every χ² cell is an exact count;
    * per-cell terms round 1e-6 (the [[chiSquared]] convention), the
    * statistic 1e-4.
    *
    * Scale shape: one value-domain collapse + the range-partitioned
    * prefix pass + one broadcast one-row median + the χ² kernel's
    * combinable cell collapse. The raw stream is read twice (domain
    * collapse, labeling) — both map-side-combinable passes. */
  def moodsMedian(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val dt = df.schema(valueCol).dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"moodsMedian: column '$valueCol' has type ${dt.simpleString}; " +
      "values must be numeric (pre-bucket continuous inputs)")
    val base = df.filter(sf.col(groupCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(groupCol).as("__g"),
        sf.col(valueCol).cast("long").as("__v"))
    val cells = base.groupBy("__v").agg(sf.count(sf.lit(1)).as("__w"))
      .localCheckpoint(true) // prefix + total read it
    val tot = cells.agg(sf.sum("__w").as("__tot"))
    val med = graft.operators.StarSchema
      .globalPrefixSums(cells, Seq("__v"), "__w", "__cum")
      .crossJoin(sf.broadcast(tot))
      .filter(sf.col("__cum") * 2 >= sf.col("__tot"))
      .agg(sf.min("__v").as("__med"))
    val labeled = base.crossJoin(sf.broadcast(med))
      .select(sf.col("__g"),
        (sf.col("__v") > sf.col("__med")).cast("int").as("__above"),
        sf.col("__med"))
    chiSquaredKernel(labeled, "__g", "__above")
      .crossJoin(sf.broadcast(med))
      .select(sf.col("__fn").as("n"), sf.col("__fnr").as("n_groups"),
        sf.col("__med").as("pooled_median"),
        gf.roundAt(sf.col("__chi2").cast("double"), 4).as("chi2"),
        (sf.col("__fnr") - 1).as("dof"))
  }

  /** Jonckheere–Terpstra trend test (Jonckheere 1954; Terpstra 1952):
    * does the value distribution shift MONOTONICALLY across ORDERED
    * groups (price across priority tiers, quality across vintages) —
    * the a-priori-ordered alternative the omnibus [[kruskalWallis]]
    * throws away (KW asks "any difference", J–T asks "an increasing
    * trend", and pays for the sharper question with more power).
    * J = Σ_{g<h} U_gh where U_gh counts pairs x_g < x_h (+½ per tie);
    * z = (J − μ)/σ with the tie-corrected null moments
    * (Lehmann 1975's formulas): μ = (N² − Σn_g²)/4 and
    *
    *   σ² = A/72 + B/(36·N(N−1)(N−2)) + C/(8·N(N−1)),
    *   A = N(N−1)(2N+5) − Σ_g n(n−1)(2n+5) − Σ_v t(t−1)(2t+5),
    *   B = Σ_g n(n−1)(n−2) · Σ_v t(t−1)(t−2),
    *   C = Σ_g n(n−1) · Σ_v t(t−1).
    *
    * Caller buckets continuous values first — the contract that keeps
    * pair counting on the (group, value) CELL domain (the row-320
    * kendallTau convention; both columns must be numeric so '<' is the
    * intended order — guarded).
    *
    * Determinism: doubled statistic 2J = Σ(2·lt + eq) accumulates
    * exact DECIMAL(38,0) cell products; moment components are exact
    * decimals; z is ONE pinned double assembly rounded 1e-6; J and μ
    * print rounded 1e-4. Degenerate (one group, or σ² ≤ 0) → NULL z.
    *
    * Scale shape: one combinable cell collapse, two domain-sized
    * margin rollups, the cell table self-paired via BROADCAST on the
    * ordered-group upper triangle (domain², bounded by the bucketing
    * contract), one single-row finish. */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = {
    Seq(groupCol, valueCol).foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"jonckheereTerpstra: column '$c' has type ${dt.simpleString}; " +
        "ordered groups and bucketed values must be numeric so '<' is " +
        "the intended order — map labels to integer codes first")
    }
    val cells = df.filter(sf.col(groupCol).isNotNull && sf.col(valueCol).isNotNull)
      .groupBy(sf.col(groupCol).as("g"), sf.col(valueCol).as("v"))
      .agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // pairing (both sides) + margins read it
    val pairs = cells.crossJoin(sf.broadcast(cells.select(
        sf.col("g").as("g2"), sf.col("v").as("v2"), sf.col("c").as("c2"))))
      .filter(sf.col("g") < sf.col("g2"))
    val prod = dec(sf.col("c")) * dec(sf.col("c2"))
    val zero = sf.lit(0).cast("decimal(38,0)")
    val j2 = pairs.agg(sf.sum(
      sf.when(sf.col("v") < sf.col("v2"), prod * 2)
        .when(sf.col("v") === sf.col("v2"), prod)
        .otherwise(zero)).as("__j2"))
    def m3(margin: DataFrame, n: String, p: String) = margin.agg(
      sf.sum(dec(sf.col(n))).as(s"__s1$p"),
      sf.count(sf.lit(1)).as(s"__k$p"),
      sf.sum(dec(sf.col(n)) * dec(sf.col(n))).as(s"__s2$p"),
      sf.sum(dec(sf.col(n)) * dec(sf.col(n) - 1) * dec(sf.col(n) * 2 + 5))
        .as(s"__t25$p"),
      sf.sum(dec(sf.col(n)) * dec(sf.col(n) - 1)).as(s"__t2$p"),
      sf.sum(dec(sf.col(n)) * dec(sf.col(n) - 1) * dec(sf.col(n) - 2))
        .as(s"__t3$p"))
    val gm = m3(cells.groupBy("g").agg(sf.sum("c").cast("long").as("n")), "n", "G")
    val vm = m3(cells.groupBy("v").agg(sf.sum("c").cast("long").as("n")), "n", "V")
    j2.crossJoin(sf.broadcast(gm)).crossJoin(sf.broadcast(vm))
      .select({
        val nD = sf.col("__s1G").cast("double")
        val j = sf.col("__j2").cast("double") / 2
        val mean = (nD * nD - sf.col("__s2G").cast("double")) / 4
        val a = nD * (nD - 1) * (nD * 2 + 5) -
          sf.col("__t25G").cast("double") - sf.col("__t25V").cast("double")
        val b = sf.col("__t3G").cast("double") * sf.col("__t3V").cast("double")
        val cc = sf.col("__t2G").cast("double") * sf.col("__t2V").cast("double")
        val variance = a / 72 +
          b / (nD * 36 * (nD - 1) * (nD - 2)) +
          cc / (nD * 8 * (nD - 1))
        val ok = sf.col("__kG") > 1 && variance > 0
        Seq(sf.col("__s1G").cast("long").as("n"),
          sf.col("__kG").as("n_groups"),
          gf.roundAt(j, 4).as("j_stat"),
          gf.roundAt(mean, 4).as("j_mean"),
          sf.when(ok, gf.roundAt((j - mean) / sf.sqrt(variance), 6)).as("z"))
      }: _*)
  }

  /** Spiegelhalter's Z test of calibration (Spiegelhalter 1986, Stat.
    * Med. 5): the HYPOTHESIS TEST beside [[calibration]]'s descriptive
    * ECE — under perfect calibration E[(y−p)(1−2p)] = 0, so
    *
    *   Z = Σ (y_i − p_i)(1 − 2p_i) / √(Σ (1 − 2p_i)² p_i (1 − p_i))
    *
    * is asymptotically N(0,1): |Z| > 1.96 says the probabilities are
    * MISCALIBRATED at 5% (positive Z = overconfident scores), a
    * binning-free verdict where ECE depends on the bin grid. The
    * standard decomposition-companion readout on any scored corpus
    * gate (quality classifier, toxicity model) before its threshold is
    * trusted.
    *
    * Determinism: confidences snap to the 1e-4 grid ([[calibration]]'s
    * convention — the integer p4), after which numerator terms
    * (y·10⁴ − p4)·(10⁴ − 2·p4) and denominator terms
    * (10⁴ − 2·p4)²·p4·(10⁴ − p4) are EXACT integers accumulating in
    * DECIMAL(38,0); Z is ONE pinned double assembly rounded 1e-6. A
    * degenerate denominator (every p exactly 0 or 1) yields NULL.
    *
    * Scale shape: one filter + ONE map-side-combinable single-row
    * aggregation over the corpus. No joins, no windows, no shuffle
    * beyond the scalar reduce. */
  def spiegelhalterZ(df: DataFrame, confCol: String,
                     outcomeCol: String): DataFrame = {
    val p4 = sf.floor(sf.col(confCol).cast("double") * 1e4 + 0.5).cast("long")
    val base = df
      .filter(sf.col(confCol).isNotNull && sf.col(outcomeCol).isNotNull)
      .select(p4.as("__p"), sf.col(outcomeCol).cast("long").as("__y"))
    val oneMinus2p = sf.lit(10000L) - sf.col("__p") * 2L
    base.agg(
        sf.count(sf.lit(1)).as("n"),
        sf.sum("__y").cast("long").as("n_pos"),
        sf.sum(dec(sf.col("__y") * 10000L - sf.col("__p")) * dec(oneMinus2p))
          .as("__num"),
        sf.sum(dec(oneMinus2p) * dec(oneMinus2p) * dec(sf.col("__p")) *
          dec(sf.lit(10000L) - sf.col("__p"))).as("__den"))
      .select(sf.col("n"), sf.col("n_pos"),
        sf.when(sf.col("__den") > 0, gf.roundAt(
          (sf.col("__num").cast("double") / 1e8) /
            sf.sqrt(sf.col("__den").cast("double") / 1e16), 6)).as("z"))
  }

  /** Isotonic (monotone) calibration of a classifier's confidence —
    * the pool-adjacent-violators fit over [[calibration]]'s bins,
    * computed NOT by the sequential PAV sweep but by its closed-form
    * minimax identity (Ayer et al. 1955):
    *
    *   iso(i) = max,,a≤i,, min,,b≥i,, weightedAccuracy([a, b])
    *
    * which is pure joins/aggregations over the BIN domain — no
    * iteration, no driver loop, no order-dependent pooling. The
    * output is the monotone step function a production scorer applies
    * on top of raw confidences (the binned counterpart of sklearn's
    * IsotonicRegression), next to the raw per-bin accuracy.
    *
    * Exactness: interval accuracies are single divisions of exact
    * integer sums; min/max selection over identical IEEE doubles is
    * engine-stable, and rounding happens once at the end (floor is
    * monotone, so the fit stays monotone after rounding).
    *
    * Scale shape: the corpus collapses to ≤ nBins rows in one
    * combinable pass; the interval/minimax grid is ≤ nBins³ rows of
    * BIN-DOMAIN data (nBins ≤ 64 by contract — 260k grid rows at the
    * cap, broadcast scale), never touching the corpus again. */
  def isotonicCalibration(df: DataFrame, confCol: String, outcomeCol: String,
                          nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 64, s"nBins must be in [2, 64], got $nBins")
    val conf4 = sf.floor(sf.col(confCol).cast("double") * 1e4 + 0.5).cast("long")
    val bins = df
      .filter(sf.col(confCol).isNotNull && sf.col(outcomeCol).isNotNull)
      .select(conf4.as("__c4"), sf.col(outcomeCol).cast("long").as("__y"))
      .withColumn("bin", sf.least(sf.expr(s"(__c4 * $nBins) div 10000"),
        sf.lit(nBins - 1L)))
      .groupBy("bin")
      .agg(sf.count(sf.lit(1)).as("n"), sf.sum(sf.col("__y")).as("n_pos"))
      .localCheckpoint(true)
    val ivSums = bins.select(sf.col("bin").as("__a"))
      .join(bins.select(sf.col("bin").as("__b")), sf.col("__a") <= sf.col("__b"))
      .join(bins.select(sf.col("bin").as("__m"), sf.col("n"), sf.col("n_pos")),
        sf.col("__m") >= sf.col("__a") && sf.col("__m") <= sf.col("__b"))
      .groupBy("__a", "__b")
      .agg((sf.sum("n_pos").cast("double") / sf.sum("n").cast("double")).as("__w"))
    val iso = bins.select(sf.col("bin").as("__i"))
      .join(ivSums, sf.col("__a") <= sf.col("__i") && sf.col("__b") >= sf.col("__i"))
      .groupBy("__i", "__a").agg(sf.min("__w").as("__mn"))
      .groupBy("__i").agg(sf.max("__mn").as("__iso"))
    bins.join(iso, sf.col("bin") === sf.col("__i"))
      .select(sf.col("bin"), sf.col("n"), sf.col("n_pos"),
        gf.roundAt(sf.col("n_pos").cast("double") / sf.col("n").cast("double"), 4)
          .as("accuracy"),
        gf.roundAt(sf.col("__iso"), 4).as("iso_accuracy"))
      .orderBy("bin")
  }

  /** One-way ANOVA F statistic: does `valueCol`'s mean differ across
    * `groupCol` levels — the k-group generalization of the q99 two-
    * sample readout (source-quality drift across k corpus shards, A/B/n
    * experiments).
    *
    * Determinism: per-group moments are exact 1e4 fixed-point DECIMAL
    * sums; each group's between/within term is assembled in a pinned
    * double expression and SNAPPED to a 1e-6 grid before the cross-
    * group sum (group count is unordered — an unsnapped double sum
    * would depend on which group merges first), then F divides exact
    * integers' assembly once. Degenerate designs (k < 2, N <= k, zero
    * within-variance) yield NULL F.
    *
    * Scale shape: one map-side-combinable group aggregation (k rows),
    * then a single-row reduction. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val g = df.filter(sf.col(valueCol).isNotNull)
      .select(sf.col(groupCol).as("__g"), x4.as("__x4"))
      .groupBy("__g")
      .agg(sf.count(sf.lit(1)).as("__n"), sf.sum(dec(sf.col("__x4"))).as("__s"),
        sf.sum(dec(sf.col("__x4")) * dec(sf.col("__x4"))).as("__ss"))
    val sg = sf.col("__s").cast("double") / 1e4
    val ng = sf.col("__n").cast("double")
    // per-group terms, snapped before the unordered cross-group sum
    val bTerm = sf.floor(sg * sg / ng * 1e6 + 0.5).cast("long")
    val wTerm = sf.floor((sf.col("__ss").cast("double") / 1e8 - sg * sg / ng)
      * 1e6 + 0.5).cast("long")
    g.select(sf.col("__n"), sf.col("__s"), bTerm.as("__bt"), wTerm.as("__wt"))
      .agg(sf.count(sf.lit(1)).as("k"), sf.sum("__n").as("n"),
        sf.sum(dec(sf.col("__s"))).as("__st"),
        sf.sum(dec(sf.col("__bt"))).as("__b"), sf.sum(dec(sf.col("__wt"))).as("__w"))
      .select({
        val n = sf.col("n").cast("double")
        val k = sf.col("k").cast("double")
        val grand = sf.col("__st").cast("double") / 1e4
        val ssb = sf.col("__b").cast("double") / 1e6 - grand * grand / n
        val ssw = sf.col("__w").cast("double") / 1e6
        val f = (ssb / (k - 1)) / (ssw / (n - k))
        Seq(sf.col("k"), sf.col("n"),
          sf.when(sf.col("k") > 1 && sf.col("n") > sf.col("k") && ssw > 0,
            gf.roundAt(f, 4)).as("f_stat"))
      }: _*)
  }

  /** Intraclass correlation ICC(1) — one-way random effects (Shrout &
    * Fleiss 1979 case 1; unequal group sizes via the k₀ of McGraw &
    * Wong 1996): the fraction of total variance that lives BETWEEN
    * groups, ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW) with
    * k₀ = (N − Σn_i²/N)/(G−1) — the clustering-strength number behind
    * every "should this analysis cluster standard errors / split by
    * group" decision that [[anovaF]]'s F can't give (F says means
    * differ; ICC says HOW MUCH of the variance that explains, and an
    * ICC near 0 licenses treating rows as independent). Negative
    * values (MSW > MSB) are reported as-is — the standard
    * more-homogeneous-across-than-within reading.
    *
    * Determinism: [[anovaF]]'s exact 1e-4 fixed-point group moments
    * and its 1e-6-snapped per-group between/within terms VERBATIM,
    * plus one exact Σn_i² long sum; k₀/MSB/MSW/ICC are one pinned
    * assembly (MS 1e-4, k₀ 1e-4, ICC 1e-6). Degenerate designs (G <
    * 2, N ≤ G, zero within AND between variance) yield NULL.
    *
    * Scale shape: ONE map-side-combined group aggregation + a
    * single-row reduce — the [[anovaF]] shape. */
  def icc(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val g = df.filter(sf.col(valueCol).isNotNull && sf.col(groupCol).isNotNull)
      .select(sf.col(groupCol).as("__g"), x4.as("__x4"))
      .groupBy("__g")
      .agg(sf.count(sf.lit(1)).as("__n"), sf.sum(dec(sf.col("__x4"))).as("__s"),
        sf.sum(dec(sf.col("__x4")) * dec(sf.col("__x4"))).as("__ss"))
    val sg = sf.col("__s").cast("double") / 1e4
    val ng = sf.col("__n").cast("double")
    val bTerm = sf.floor(sg * sg / ng * 1e6 + 0.5).cast("long")
    val wTerm = sf.floor((sf.col("__ss").cast("double") / 1e8 - sg * sg / ng)
      * 1e6 + 0.5).cast("long")
    g.select(sf.col("__n"), sf.col("__s"), bTerm.as("__bt"), wTerm.as("__wt"))
      .agg(sf.count(sf.lit(1)).as("k"), sf.sum("__n").as("n"),
        sf.sum(sf.col("__n") * sf.col("__n")).cast("long").as("__n2"),
        sf.sum(dec(sf.col("__s"))).as("__st"),
        sf.sum(dec(sf.col("__bt"))).as("__b"), sf.sum(dec(sf.col("__wt"))).as("__w"))
      .select({
        val n = sf.col("n").cast("double")
        val k = sf.col("k").cast("double")
        val grand = sf.col("__st").cast("double") / 1e4
        val ssb = sf.col("__b").cast("double") / 1e6 - grand * grand / n
        val ssw = sf.col("__w").cast("double") / 1e6
        val msb = ssb / (k - 1)
        val msw = ssw / (n - k)
        val k0 = (n - sf.col("__n2").cast("double") / n) / (k - 1)
        val den = msb + (k0 - 1) * msw
        val ok = sf.col("k") > 1 && sf.col("n") > sf.col("k")
        Seq(sf.col("k").as("n_groups"), sf.col("n"),
          sf.when(ok, gf.roundAt(k0, 4)).as("k0"),
          sf.when(ok, gf.roundAt(msb, 4)).as("ms_between"),
          sf.when(ok, gf.roundAt(msw, 4)).as("ms_within"),
          sf.when(ok && den =!= 0.0,
            gf.roundAt((msb - msw) / den, 6)).as("icc1"))
      }: _*)
  }

  /** Cochran–Armitage trend test (Cochran 1954; Armitage 1955): does a
    * binary rate TREND monotonically across a-priori-ORDERED groups —
    * the proportions twin of [[jonckheereTerpstra]] (J–T orders
    * continuous values; CA orders success rates) and the sharper
    * question [[chiSquared]]'s omnibus can't ask: χ² spends k−1 df
    * noticing ANY difference, CA spends 1 df on the ordered
    * alternative and wins power exactly when the suspicion is "the
    * rate creeps with the bucket" (failure rate by file-size decile,
    * conversion by recency bucket). T = Σsᵢ(aᵢ − nᵢp̄),
    * Var = p̄(1−p̄)(Σsᵢ²nᵢ − (Σsᵢnᵢ)²/N), z = T/√Var.
    *
    * Contract: scores are the group codes themselves — INTEGRAL,
    * caller-ordered (the [[kendallTau]] guard: string ordinals would
    * sort lexicographically, and fractional scores would be floor-
    * truncated by the exact-arithmetic long cast — both silently
    * corrupt the trend, so both types are rejected up front).
    *
    * Determinism: every sum (Σsa, Σsn, Σs²n) is an exact
    * DECIMAL(38,0); T/Var/z are ONE pinned assembly rounded 1e-6.
    * Degenerate p̄ ∈ {0, 1}, a single group, or zero score variance
    * yields NULL z.
    *
    * Scale shape: ONE map-side-combined group aggregation over the
    * row stream + a one-row finish. Zero joins, zero windows. */
  def cochranArmitage(df: DataFrame, scoreCol: String,
                      successCol: String): DataFrame = {
    val dt = df.schema(scoreCol).dataType
    val integral = dt match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(integral,
      s"cochranArmitage: column '$scoreCol' has type ${dt.simpleString}; " +
      "ordered group scores must be INTEGER codes (byte/short/int/long) — " +
      "a fractional score column would be silently floor-truncated by the " +
      "long cast (0.25-spaced buckets all collapse to 0); map buckets to " +
      "integer codes first")
    val s = sf.col(scoreCol).cast("long")
    val y = sf.col(successCol).cast("boolean").cast("long")
    df.filter(sf.col(scoreCol).isNotNull && sf.col(successCol).isNotNull)
      .select(s.as("__s"), y.as("__y"))
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum("__y").cast("long").as("__a"),
        sf.count_distinct(sf.col("__s")).as("n_groups"),
        sf.sum(dec(sf.col("__s")) * dec(sf.col("__y"))).as("__sa"),
        sf.sum(dec(sf.col("__s"))).as("__sn"),
        sf.sum(dec(sf.col("__s")) * dec(sf.col("__s"))).as("__ssn"))
      .select({
        val nD = sf.col("n").cast("double")
        val pbar = sf.col("__a").cast("double") / nD
        val t = sf.col("__sa").cast("double") - pbar * sf.col("__sn").cast("double")
        val vs = sf.col("__ssn").cast("double") -
          sf.col("__sn").cast("double") * sf.col("__sn").cast("double") / nD
        val v = pbar * (sf.lit(1.0) - pbar) * vs
        val ok = sf.col("n_groups") >= 2 && sf.col("__a") > 0 &&
          sf.col("__a") < sf.col("n")
        Seq(sf.col("n"), sf.col("n_groups"), sf.col("__a").as("n_success"),
          gf.roundAt(pbar, 6).as("rate_overall"),
          sf.when(ok && v > 0.0, gf.roundAt(t / sf.sqrt(v), 6)).as("z_trend"))
      }: _*)
  }

  /** Conditional Poisson two-rate test (Przyborowski & Wilenski 1940's
    * exact conditioning, normal form): are two event RATES equal given
    * unequal EXPOSURES — conditional on the total count n = k₁+k₂,
    * k₁ ~ Binomial(n, t₁/(t₁+t₂)) under H₀, so
    * z = (k₁ − n·p)/√(n·p(1−p)) — the readout for "arm A throws
    * errors 1.4× as often per event" that a raw count comparison gets
    * wrong whenever the arms differ in traffic (they always do). The
    * COUNTS sibling of [[twoProportionEffects]] (that compares
    * per-trial probabilities; this compares per-exposure intensities).
    *
    * Determinism: counts and exposures are exact longs; p, the rates,
    * the rate ratio, and z are one pinned assembly rounded 1e-6.
    * Zero total count or zero exposure yields NULL z; a zero k₂ rate
    * NULLs the ratio.
    *
    * Scale shape: ONE map-side-combined single-row aggregation over
    * the tagged stream — the [[mcnemarTest]] shape. */
  def poissonRateTest(df: DataFrame, armACol: Column, eventPred: Column)
      : DataFrame = {
    val a = armACol.cast("boolean")
    val e = eventPred.cast("boolean").cast("long")
    def cnt(p: Column) = sf.sum(p.cast("long")).cast("long")
    df.filter(a.isNotNull)
      .agg(cnt(a).as("t_a"), cnt(!a).as("t_b"),
        sf.sum(sf.when(a, e).otherwise(sf.lit(0L))).cast("long").as("k_a"),
        sf.sum(sf.when(!a, e).otherwise(sf.lit(0L))).cast("long").as("k_b"))
      .select({
        val ta = sf.col("t_a").cast("double")
        val tb = sf.col("t_b").cast("double")
        val ka = sf.col("k_a").cast("double")
        val kb = sf.col("k_b").cast("double")
        val n = ka + kb
        val p = ta / (ta + tb)
        val z = (ka - n * p) / sf.sqrt(n * p * (sf.lit(1.0) - p))
        val ok = sf.col("k_a") + sf.col("k_b") > 0 &&
          sf.col("t_a") > 0 && sf.col("t_b") > 0
        Seq(sf.col("t_a"), sf.col("t_b"), sf.col("k_a"), sf.col("k_b"),
          sf.when(sf.col("t_a") > 0, gf.roundAt(ka / ta, 6)).as("rate_a"),
          sf.when(sf.col("t_b") > 0, gf.roundAt(kb / tb, 6)).as("rate_b"),
          sf.when(sf.col("t_a") > 0 && sf.col("t_b") > 0 && sf.col("k_b") > 0,
            gf.roundAt(ka / ta / (kb / tb), 6)).as("rate_ratio"),
          sf.when(ok, gf.roundAt(z, 6)).as("z_stat"))
      }: _*)
  }

  /** Welch's heteroscedastic one-way ANOVA (Welch 1951): the k-group
    * mean comparison that does NOT assume equal variances — the
    * k-group analogue of preferring [[welchTTest]] to Student's t, and
    * the test to run INSTEAD of [[anovaF]] whenever
    * [[brownForsythe]] rejects variance homogeneity (classic F under
    * heteroscedasticity + unequal n's is anti-conservative exactly
    * when the big-variance group is small). F* = Σw_i(x̄_i−x̃)²/(k−1)
    * over 1 + 2(k−2)/(k²−1)·S with w_i = n_i/s_i², x̃ the
    * weighted grand mean, S = Σ(1−w_i/W)²/(n_i−1), and the
    * Welch–Satterthwaite df₂ = (k²−1)/(3S).
    *
    * Determinism: group moments are [[anovaF]]'s exact 1e-4
    * fixed-point sums; each weight w_i snaps to the 1e-9 grid (exact
    * long sums for W and, via 1e-9-snapped products, for Σw·x̄), the
    * two per-group term families snap 1e-9/1e-12 before their
    * unordered sums, the F and df₂ assemblies are pinned (1e-4 each).
    * Groups with n < 2 or zero variance are EXCLUDED (w undefined —
    * complete-case, documented); k < 2 after exclusion yields NULL.
    *
    * Scale shape: ONE map-side-combined group aggregation, a k-row
    * broadcast scalar, one more k-row reduce. */
  def welchAnova(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val x4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val g0 = df.filter(sf.col(valueCol).isNotNull && sf.col(groupCol).isNotNull)
      .select(sf.col(groupCol).as("__g"), x4.as("__x4"))
      .groupBy("__g")
      .agg(sf.count(sf.lit(1)).as("__n"), sf.sum(dec(sf.col("__x4"))).as("__s"),
        sf.sum(dec(sf.col("__x4")) * dec(sf.col("__x4"))).as("__ss"))
    val nD = sf.col("__n").cast("double")
    val mean = sf.col("__s").cast("double") / 1e4 / nD
    val vari = (sf.col("__ss").cast("double") / 1e8 -
      (sf.col("__s").cast("double") / 1e4) *
        (sf.col("__s").cast("double") / 1e4) / nD) / (nD - 1.0)
    val g = g0.filter(sf.col("__n") >= 2 && vari > 0.0)
      .select(sf.col("__n"), mean.as("__mean"),
        sf.floor(nD / vari * 1e9 + 0.5).cast("long").as("__w9"))
      .localCheckpoint(true) // W reduce + term reduce read it
    val w = sf.col("__w9").cast("double") / 1e9
    val tots = g.agg(sf.count(sf.lit(1)).as("k"), sf.sum("__n").cast("long").as("n"),
      sf.sum("__w9").as("__sw9"),
      sf.sum(sf.floor(w * sf.col("__mean") * 1e9 + 0.5).cast("long")).as("__swx9"))
    val terms = g.crossJoin(sf.broadcast(tots))
      .select({
        val xt = sf.col("__swx9").cast("double") / sf.col("__sw9").cast("double")
        val dm = sf.col("__mean") - xt
        val frac = sf.col("__w9").cast("double") / sf.col("__sw9").cast("double")
        Seq(sf.floor(w * dm * dm * 1e9 + 0.5).cast("long").as("__ta9"),
          sf.floor((sf.lit(1.0) - frac) * (sf.lit(1.0) - frac) /
            (sf.col("__n").cast("double") - 1.0) * 1e12 + 0.5).cast("long")
            .as("__tb12"))
      }: _*)
      .agg(sf.sum("__ta9").as("__sa9"), sf.sum("__tb12").as("__sb12"))
    tots.crossJoin(sf.broadcast(terms))
      .select({
        val k = sf.col("k").cast("double")
        val aT = sf.col("__sa9").cast("double") / 1e9 / (k - 1.0)
        val s = sf.col("__sb12").cast("double") / 1e12
        val f = aT / (sf.lit(1.0) + s * 2 * (k - 2) / (k * k - 1.0))
        val df2 = (k * k - 1.0) / (s * 3)
        val ok = sf.col("k") >= 2
        Seq(sf.col("k"), sf.col("n"),
          sf.when(ok, gf.roundAt(f, 4)).as("f_welch"),
          sf.when(ok && s > 0.0, gf.roundAt(df2, 4)).as("df2"))
      }: _*)
  }

  /** Cronbach's alpha (Cronbach 1951) over k numeric item columns —
    * internal-consistency reliability: do the k signals move together
    * enough to be read as ONE construct, α = k/(k−1)·(1 −
    * Σvar_i/var_total) with var_total the variance of the per-row item
    * sum. The gate in front of any composite score this library
    * builds (a quality score summing length/stopword/repetition
    * signals, a risk score summing detector outputs): α < 0.7 says
    * the composite is mixing unrelated things and its threshold
    * carries no meaning. Complete-case rows (the [[cochranQ]]
    * convention).
    *
    * Determinism: items snap to the exact 1e-4 grid; all 2k+2 moment
    * sums are DECIMAL(38,0) in ONE pass (the row-sum moments ride the
    * same aggregation); per-item variances combine in a FIXED fold
    * order (a plan literal, not data order), α is one pinned assembly
    * rounded 1e-4 (variances 1e-4). n < 2 or zero total variance
    * yields NULL.
    *
    * Scale shape: ONE map-side-combined single-row aggregation.
    * Zero joins, zero windows, zero shuffled data rows. */
  def cronbachAlpha(df: DataFrame, itemCols: Seq[String]): DataFrame = {
    require(itemCols.size >= 2,
      s"cronbachAlpha needs >= 2 item columns, got ${itemCols.size}")
    val k = itemCols.size
    val base = df.filter(itemCols.map(c => sf.col(c).isNotNull).reduce(_ && _))
      .select(itemCols.zipWithIndex.map { case (c, i) =>
        sf.floor(sf.col(c).cast("double") * 1e4 + 0.5).cast("long").as(s"__x$i")
      }: _*)
      .withColumn("__t", (0 until k).map(i => sf.col(s"__x$i")).reduce(_ + _))
    val aggs = Seq(sf.count(sf.lit(1)).as("n")) ++
      (0 until k).flatMap(i => Seq(
        sf.sum(dec(sf.col(s"__x$i"))).as(s"__s$i"),
        sf.sum(dec(sf.col(s"__x$i")) * dec(sf.col(s"__x$i"))).as(s"__ss$i"))) ++
      Seq(sf.sum(dec(sf.col("__t"))).as("__st"),
        sf.sum(dec(sf.col("__t")) * dec(sf.col("__t"))).as("__sst"))
    base.agg(aggs.head, aggs.tail: _*)
      .select({
        val n = sf.col("n").cast("double")
        def vari(s: Column, ss: Column) = (ss.cast("double") / 1e8 -
          (s.cast("double") / 1e4) * (s.cast("double") / 1e4) / n) / (n - 1.0)
        val vSum = (0 until k).map(i =>
          vari(sf.col(s"__s$i"), sf.col(s"__ss$i"))).reduce(_ + _)
        val vTot = vari(sf.col("__st"), sf.col("__sst"))
        val alpha = sf.lit(k.toDouble / (k - 1)) * (sf.lit(1.0) - vSum / vTot)
        val ok = sf.col("n") >= 2 && vTot > 0.0
        Seq(sf.col("n"), sf.lit(k).as("k_items"),
          sf.when(sf.col("n") >= 2, gf.roundAt(vSum, 4)).as("var_items_sum"),
          sf.when(sf.col("n") >= 2, gf.roundAt(vTot, 4)).as("var_total"),
          sf.when(ok, gf.roundAt(alpha, 4)).as("alpha"))
      }: _*)
  }

  /** Lin's concordance correlation coefficient (Lin 1989) between two
    * numeric columns measuring the SAME quantity: ρ_c = 2s_xy/(s_x² +
    * s_y² + (x̄−ȳ)²) — agreement through the 45° line, which Pearson's
    * r ([[correlationMatrix]]) deliberately ignores (r = 1 for y =
    * 2x + 3; ρ_c punishes both the scale and location shift). THE
    * gate for "can scorer B replace scorer A" — a re-implemented
    * quality score, a quantized embedding's similarity, a cheaper
    * detector — where high r with low ρ_c means "same ranking,
    * different calibration" (fixable by [[isotonicCalibration]]), and
    * the reported bias factor C_b = ρ_c/r isolates exactly that
    * calibration gap.
    *
    * Determinism: values snap to the 1e-4 grid (exact integer moment
    * sums in DECIMAL(38,0) — ρ_c is scale-invariant so the grid
    * cancels); ρ_c, r, and C_b are one pinned population-moment
    * assembly rounded 1e-6. Degenerate variance (either column
    * constant) NULLs r and C_b; a zero ρ_c denominator NULLs ρ_c.
    *
    * Scale shape: ONE map-side-combinable 6-cell aggregation + a
    * one-row finish. Zero joins, zero windows. */
  def linsCcc(df: DataFrame, colA: String, colB: String): DataFrame = {
    def x4(c: String) = sf.floor(sf.col(c).cast("double") * 1e4 + 0.5).cast("long")
    val x = dec(sf.col("__x"))
    val y = dec(sf.col("__y"))
    df.filter(sf.col(colA).isNotNull && sf.col(colB).isNotNull)
      .select(x4(colA).as("__x"), x4(colB).as("__y"))
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(x).as("__sx"), sf.sum(y).as("__sy"),
        sf.sum(x * x).as("__sxx"), sf.sum(y * y).as("__syy"),
        sf.sum(x * y).as("__sxy"))
      .select({
        val n = sf.col("n").cast("double")
        val mx = sf.col("__sx").cast("double") / n
        val my = sf.col("__sy").cast("double") / n
        val vx = sf.col("__sxx").cast("double") / n - mx * mx
        val vy = sf.col("__syy").cast("double") / n - my * my
        val cxy = sf.col("__sxy").cast("double") / n - mx * my
        val den = vx + vy + (mx - my) * (mx - my)
        val ccc = cxy * 2 / den
        val r = cxy / sf.sqrt(vx * vy)
        val ok = sf.col("n") >= 2
        Seq(sf.col("n"),
          sf.when(ok && den > 0.0, gf.roundAt(ccc, 6)).as("ccc"),
          sf.when(ok && vx > 0.0 && vy > 0.0, gf.roundAt(r, 6)).as("pearson_r"),
          sf.when(ok && den > 0.0 && vx > 0.0 && vy > 0.0 && r =!= 0.0,
            gf.roundAt(ccc / r, 6)).as("bias_factor"))
      }: _*)
  }

  /** Platt scaling fit IN-ENGINE (Platt 1999): the logistic
    * calibration map σ(a·score + b) fit to binary outcomes by
    * `iters` Newton–Raphson steps — the PARAMETRIC companion of
    * [[isotonicCalibration]] (isotonic needs no shape but can
    * overfit small bins and can't extrapolate; Platt is the two-
    * parameter map production scorers actually ship) and the
    * [[naive-bayes-style]] in-engine-training demonstration for the
    * calibration family: the model is trained BY the engine, no
    * driver-side optimizer. Reported: (a, b) after the Newton steps
    * plus the mean NLL before (identity map) and after — the
    * improvement IS the calibration gain.
    *
    * Determinism: scores snap to the 1e-4 grid and the stream
    * collapses to (score, y) DOMAIN cells once — every Newton pass
    * then aggregates the bounded domain, not the corpus (the scale
    * win AND the determinism win: fewer summands near snap
    * boundaries). Per cell and per pass, the gradient/Hessian terms
    * (weighted by the exact cell count) snap to the 1e-9 grid before
    * their unordered sums (DECIMAL(38,0)); the 2×2 Newton solve is
    * exact integer Cramer products with ONE pinned division each,
    * and (a, b) re-snap to 1e-9 after every step so the whole
    * trajectory is grid-pinned; z clamps to ±30 before exp
    * (documented — keeps ln/exp finite in any engine). Outputs 1e-6.
    * Degenerate labels (all 0 or all 1) or a singular Hessian yield
    * NULL fit.
    *
    * Scale shape: ONE domain collapse of the scored stream, then
    * `iters`+2 aggregations over the (|distinct scores|·2)-bounded
    * cell table. */
  def plattScaling(df: DataFrame, scoreCol: String, labelCol: String,
                   iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1, 8], got $iters")
    def snap9(c: Column) = sf.floor(c * 1e9 + 0.5).cast("decimal(38,0)")
    val f4 = sf.floor(sf.col(scoreCol).cast("double") * 1e4 + 0.5).cast("long")
    val cells = df.filter(sf.col(scoreCol).isNotNull && sf.col(labelCol).isNotNull)
      .select(f4.as("__f4"), sf.col(labelCol).cast("long").as("__y"))
      .groupBy("__f4", "__y").agg(sf.count(sf.lit(1)).as("__c"))
      .localCheckpoint(true) // every Newton pass reads it
    val fD = sf.col("__f4").cast("double") / 1e4
    val cD = sf.col("__c").cast("double")
    val yD = sf.col("__y").cast("double")
    def sigmoid(a: Column, b: Column) = {
      val z = sf.greatest(sf.least(a * fD + b, sf.lit(30.0)), sf.lit(-30.0))
      sf.lit(1.0) / (sf.lit(1.0) + sf.exp(-z))
    }
    def nll(a: Column, b: Column) = {
      val p = sigmoid(a, b)
      sf.sum(snap9(cD * -(yD * sf.log(p) +
        (sf.lit(1.0) - yD) * sf.log(sf.lit(1.0) - p))))
    }
    // (a, b) carried as 1e-9-snapped scalars in a one-row frame
    var ab = df.sparkSession.range(1)
      .select(sf.lit(1000000000L).as("__a9"), sf.lit(0L).as("__b9"))
    for (_ <- 1 to iters) {
      val a = sf.col("__a9").cast("double") / 1e9
      val b = sf.col("__b9").cast("double") / 1e9
      val p = sigmoid(a, b)
      val w = p * (sf.lit(1.0) - p)
      val step = cells.crossJoin(sf.broadcast(ab))
        .agg(sf.sum(snap9(cD * (w * fD * fD))).as("__sxx"),
          sf.sum(snap9(cD * (w * fD))).as("__sx"),
          sf.sum(snap9(cD * w)).as("__s0"),
          sf.sum(snap9(cD * ((p - yD) * fD))).as("__gx"),
          sf.sum(snap9(cD * (p - yD))).as("__g0"),
          sf.max("__a9").as("__a9"), sf.max("__b9").as("__b9"))
      // exact integer Cramer products; two pinned divisions; re-snap
      val det = sf.col("__sxx") * sf.col("__s0") - sf.col("__sx") * sf.col("__sx")
      val da = (sf.col("__gx") * sf.col("__s0") -
        sf.col("__g0") * sf.col("__sx")).cast("double") / det.cast("double")
      val db = (sf.col("__sxx") * sf.col("__g0") -
        sf.col("__sx") * sf.col("__gx")).cast("double") / det.cast("double")
      ab = step.select(
        sf.when(det =!= 0,
          sf.col("__a9") - sf.floor(da * 1e9 + 0.5).cast("long")).as("__a9"),
        sf.when(det =!= 0,
          sf.col("__b9") - sf.floor(db * 1e9 + 0.5).cast("long")).as("__b9"))
        .localCheckpoint(true) // lineage cut per Newton step
    }
    val tot = cells.agg(sf.sum("__c").cast("long").as("n"),
      sf.sum(sf.col("__y") * sf.col("__c")).cast("long").as("__pos"),
      nll(sf.lit(1.0), sf.lit(0.0)).as("__nb9"))
    val after = cells.crossJoin(sf.broadcast(ab))
      .agg(nll(sf.col("__a9").cast("double") / 1e9,
        sf.col("__b9").cast("double") / 1e9).as("__na9"),
        sf.max("__a9").as("__a9"), sf.max("__b9").as("__b9"))
    tot.crossJoin(sf.broadcast(after))
      .select({
        val ok = sf.col("__pos") > 0 && sf.col("__pos") < sf.col("n") &&
          sf.col("__a9").isNotNull
        val n = sf.col("n").cast("double")
        Seq(sf.col("n"),
          sf.when(ok, gf.roundAt(sf.col("__a9").cast("double") / 1e9, 6)).as("a"),
          sf.when(ok, gf.roundAt(sf.col("__b9").cast("double") / 1e9, 6)).as("b"),
          gf.roundAt(sf.col("__nb9").cast("double") / 1e9 / n, 6).as("nll_before"),
          sf.when(ok, gf.roundAt(sf.col("__na9").cast("double") / 1e9 / n, 6))
            .as("nll_after"))
      }: _*)
  }

  /** Bland–Altman agreement limits (Bland & Altman 1986) between two
    * measurements of the same quantity: mean difference (the BIAS),
    * the 95% limits of agreement mean ± z·SD(diff), and the share of
    * rows outside them — the ABSOLUTE-UNITS companion of [[linsCcc]]
    * (ρ_c says "agreement is 0.87"; Bland–Altman says "scorer B reads
    * 0.03 high and 5% of rows disagree by more than ±0.12" — the
    * number a replace-scorer-A decision actually needs).
    *
    * Determinism: per-row differences are EXACT integers on the 1e-4
    * grid (d₄ = x₄ − y₄); moment sums DECIMAL(38,0); mean/SD (sample,
    * n−1) and the limits are one pinned assembly rounded 1e-4, the
    * outside share 1e-6. The outside test compares the exact integer
    * d₄ against the pinned double bounds — reproducible row
    * membership (the [[centroidDistances]] convention). n < 2 or zero
    * variance NULLs the limits (share then counts d ≠ mean... zero-SD
    * limits collapse to the mean — share reported against them).
    *
    * Scale shape: one map-side-combined collapse to the d₄ VALUE
    * DOMAIN, a 3-cell moment rollup, one broadcast back to the domain
    * for the outside count — two domain-sized passes, the raw rows
    * read once. */
  def blandAltman(df: DataFrame, colA: String, colB: String,
                  z: Double = 1.959964): DataFrame = {
    require(z > 0, s"z must be > 0, got $z")
    def x4(c: String) = sf.floor(sf.col(c).cast("double") * 1e4 + 0.5).cast("long")
    val dom = df.filter(sf.col(colA).isNotNull && sf.col(colB).isNotNull)
      .select((x4(colA) - x4(colB)).as("__d4"))
      .groupBy("__d4").agg(sf.count(sf.lit(1)).as("__c"))
      .localCheckpoint(true) // moments + outside count read it
    val mom = dom.agg(sf.sum("__c").cast("long").as("n"),
      sf.sum(dec(sf.col("__d4")) * dec(sf.col("__c"))).as("__s1"),
      sf.sum(dec(sf.col("__d4")) * dec(sf.col("__d4")) * dec(sf.col("__c")))
        .as("__s2"))
    val withB = mom.select({
      val n = sf.col("n").cast("double")
      val mean = sf.col("__s1").cast("double") / n / 1e4
      val sd = sf.sqrt((sf.col("__s2").cast("double") / 1e8 -
        (sf.col("__s1").cast("double") / 1e4) *
          (sf.col("__s1").cast("double") / 1e4) / n) / (n - 1.0))
      Seq(sf.col("n"), mean.as("__mean"), sd.as("__sd"),
        (mean - sf.lit(z) * sd).as("__lo"), (mean + sf.lit(z) * sd).as("__hi"))
    }: _*)
    val outside = dom.crossJoin(sf.broadcast(withB))
      .agg(sf.sum(sf.when(
        sf.col("__d4").cast("double") / 1e4 < sf.col("__lo") ||
          sf.col("__d4").cast("double") / 1e4 > sf.col("__hi"),
        sf.col("__c")).otherwise(sf.lit(0L))).cast("long").as("__nout"))
    withB.crossJoin(sf.broadcast(outside))
      .select({
        val ok = sf.col("n") >= 2 && sf.col("__sd") > 0.0
        Seq(sf.col("n"),
          gf.roundAt(sf.col("__mean"), 4).as("mean_diff"),
          sf.when(ok, gf.roundAt(sf.col("__sd"), 4)).as("sd_diff"),
          sf.when(ok, gf.roundAt(sf.col("__lo"), 4)).as("loa_lo"),
          sf.when(ok, gf.roundAt(sf.col("__hi"), 4)).as("loa_hi"),
          gf.roundAt(sf.col("__nout").cast("double") /
            sf.col("n").cast("double"), 6).as("share_outside"))
      }: _*)
  }

  /** Gwet's AC1 chance-corrected agreement (Gwet 2008) between two
    * categorical raters — the PREVALENCE-ROBUST sibling of
    * [[cohensKappa]]: when one category dominates (a 95%-English
    * corpus), kappa's chance term π_c² explodes and two raters
    * agreeing on nearly every row can still score κ ≈ 0 (the "kappa
    * paradox"); AC1's chance term Σ_c π_c(1−π_c)/(C−1) stays small
    * exactly there, so it grades the raters, not the class balance.
    * Read both: κ ≪ AC1 IS the prevalence-skew diagnosis.
    *
    * Determinism: exact (a, b) cells; π_c = (r1_c + r2_c)/2n; each
    * category's chance term snaps to the 1e-12 grid before the
    * unordered category sum (the [[chiSquared]]-family convention);
    * p_o is exact integers, AC1 one pinned assembly rounded 1e-4
    * (p_o/p_e 1e-6). C < 2 or p_e = 1 yields NULL.
    *
    * Scale shape: one map-side-combined cell collapse + two
    * category-domain margins + a one-row finish — the [[cohensKappa]]
    * shape. */
  def gwetAC1(df: DataFrame, raterACol: String,
              raterBCol: String): DataFrame = {
    val cells = df.filter(sf.col(raterACol).isNotNull && sf.col(raterBCol).isNotNull)
      .groupBy(sf.col(raterACol).cast("string").as("__a"),
        sf.col(raterBCol).cast("string").as("__b"))
      .agg(sf.count(sf.lit(1)).as("__c"))
      .localCheckpoint(true) // totals + both margins read it
    val tot = cells.agg(sf.sum("__c").cast("long").as("n"),
      sf.sum(sf.when(sf.col("__a") === sf.col("__b"), sf.col("__c"))
        .otherwise(sf.lit(0L))).cast("long").as("__agree"))
    val cats = cells.select(sf.col("__a").as("__cat"), sf.col("__c"))
      .union(cells.select(sf.col("__b").as("__cat"), sf.col("__c")))
      .groupBy("__cat").agg(sf.sum("__c").cast("long").as("__m"))
      .localCheckpoint(true) // count + term sum read it
    val nCats = cats.agg(sf.count(sf.lit(1)).as("n_categories"))
    val terms = cats.crossJoin(sf.broadcast(tot)).crossJoin(sf.broadcast(nCats))
      .select({
        val pi = sf.col("__m").cast("double") / (sf.col("n").cast("double") * 2)
        val c = sf.col("n_categories").cast("double")
        sf.when(sf.col("n_categories") >= 2,
          sf.floor(pi * (sf.lit(1.0) - pi) / (c - 1) * 1e12 + 0.5).cast("long"))
          .as("__t12")
      })
      .agg(sf.sum("__t12").as("__pe12"))
    tot.crossJoin(sf.broadcast(nCats)).crossJoin(sf.broadcast(terms))
      .select({
        val po = sf.col("__agree").cast("double") / sf.col("n").cast("double")
        val pe = sf.col("__pe12").cast("double") / 1e12
        val ok = sf.col("n_categories") >= 2 && pe < 1.0
        Seq(sf.col("n"), sf.col("n_categories"),
          gf.roundAt(po, 6).as("p_observed"),
          sf.when(sf.col("n_categories") >= 2,
            gf.roundAt(pe, 6)).as("p_chance"),
          sf.when(ok, gf.roundAt((po - pe) / (sf.lit(1.0) - pe), 4)).as("ac1"))
      }: _*)
  }

  /** Quadratic-weighted Cohen's kappa (Cohen 1968) between two
    * INTEGER-CODED ordinal raters — the ordinal upgrade of
    * [[cohensKappa]] (which scores "grade 1 vs grade 5" exactly as
    * wrong as "grade 4 vs grade 5") and the standard metric for
    * graded-label agreement (review scores, quality tiers, rubric
    * grades). Contract: grades are equally-spaced integer codes (the
    * [[kendallTau]] caller-buckets rule, numeric-guarded), so the
    * quadratic penalty is the exact integer (a−b)² and its
    * normalization cancels between numerator and denominator:
    *
    *   κ_w = 1 − N·Σ_cells o_ab(a−b)² / Σ_grid r_a·c_b(a−b)²
    *
    * Determinism: EVERY term is an exact integer — observed cells,
    * margin products, squared differences — accumulating in
    * DECIMAL(38,0); κ_w is ONE pinned double division rounded 1e-6.
    * Both raters constant-and-equal (zero expected penalty) yields
    * NULL.
    *
    * Scale shape: one map-side-combined (a, b) cell collapse + two
    * margin rollups + a BROADCAST margin-grid cross join (domain²,
    * bounded by the bucketing contract) + a one-row finish. */
  def weightedKappa(df: DataFrame, raterACol: String,
                    raterBCol: String): DataFrame = {
    Seq(raterACol, raterBCol).foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"weightedKappa: column '$c' has type ${dt.simpleString}; ordinal " +
        "grades must be integer-coded (equally spaced) so (a-b)^2 is the " +
        "intended penalty — map string grades to integer codes first")
    }
    val cells = df.filter(sf.col(raterACol).isNotNull && sf.col(raterBCol).isNotNull)
      .groupBy(sf.col(raterACol).cast("long").as("a"),
        sf.col(raterBCol).cast("long").as("b"))
      .agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // observed sum + two margins read it
    val obs = cells.agg(sf.sum("c").cast("long").as("n"),
      sf.sum(dec(sf.col("c")) * dec((sf.col("a") - sf.col("b")) *
        (sf.col("a") - sf.col("b")))).as("__o"))
    val ra = cells.groupBy("a").agg(sf.sum("c").cast("long").as("__ra"))
    val cb = cells.groupBy("b").agg(sf.sum("c").cast("long").as("__cb"))
    val exp = ra.crossJoin(sf.broadcast(cb))
      .agg(sf.sum(dec(sf.col("__ra")) * dec(sf.col("__cb")) *
        dec((sf.col("a") - sf.col("b")) * (sf.col("a") - sf.col("b")))).as("__e"),
        sf.count(sf.lit(1)).as("__grid"))
    obs.crossJoin(sf.broadcast(exp))
      .select({
        val kw = sf.lit(1.0) - sf.col("n").cast("double") *
          sf.col("__o").cast("double") / sf.col("__e").cast("double")
        Seq(sf.col("n"),
          sf.col("__o").cast("long").as("obs_penalty"),
          sf.when(sf.col("__e") > 0, gf.roundAt(kw, 6)).as("kappa_w"))
      }: _*)
  }

  /** Spearman rank correlation between two numeric columns — the
    * monotonic-association twin of [[correlationMatrix]]'s Pearson r,
    * robust to outliers and nonlinear-but-monotone relationships.
    * Ties get exact midranks.
    *
    * Determinism: midranks are computed on the DISTINCT-VALUE table
    * (the mannWhitneyU domain-compression design) as exact integer
    * DOUBLED ranks (2·midrank = 2·cumBefore + count + 1 — no halves),
    * all five moment sums accumulate in DECIMAL(38,0), and rho is one
    * pinned double assembly of exact sums (the doubling cancels).
    * Constant columns yield NULL rho.
    *
    * Scale shape: two distinct-value aggregations, a bounded-domain
    * cumulative window over each (value-domain-sized, the
    * mannWhitneyU shape), two keyed rank-attach joins, one single-row
    * moment reduction. */
  def spearman(df: DataFrame, colA: String, colB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r14 optimization: ranks and every moment sum are functions of the
    // distinct (x, y) VALUE CELLS and their multiplicities, so the row
    // stream collapses to the joint domain in ONE map-side-combined
    // pass — the rank joins and the final reduction then run on the
    // (typically 10-100x smaller) cell table instead of re-reading and
    // twice-joining the full row frame. Average ranks per column come
    // from summing cell counts per value — identical integers; moment
    // sums weight each cell by its count in DECIMAL(38,0) — identical
    // exact values.
    val cells = graft.operators.Par.spread(
      df.select(sf.col(colA).cast("double").as("__x"),
        sf.col(colB).cast("double").as("__y")))
      .filter(sf.col("__x").isNotNull && sf.col("__y").isNotNull)
      .groupBy("__x", "__y").agg(sf.count(sf.lit(1)).as("__n"))
      .localCheckpoint(true)
    def ranks(c: String) = {
      val w = Window.partitionBy(sf.pmod(sf.hash(sf.col(c)), sf.lit(1)))
        .orderBy(c).rowsBetween(Window.unboundedPreceding, -1)
      cells.groupBy(c).agg(sf.sum("__n").as("__c"))
        .select(sf.col(c),
          (sf.coalesce(sf.sum("__c").over(w), sf.lit(0L)) * 2 +
            sf.col("__c") + 1).as(s"__r$c"))
    }
    val cnt = dec(sf.col("__n"))
    cells.join(ranks("__x"), "__x").join(ranks("__y"), "__y")
      .agg(sf.coalesce(sf.sum("__n"), sf.lit(0L)).as("n"),
        sf.sum(dec(sf.col("__r__x")) * cnt).as("__sa"),
        sf.sum(dec(sf.col("__r__y")) * cnt).as("__sb"),
        sf.sum(dec(sf.col("__r__x")) * dec(sf.col("__r__x")) * cnt).as("__saa"),
        sf.sum(dec(sf.col("__r__y")) * dec(sf.col("__r__y")) * cnt).as("__sbb"),
        sf.sum(dec(sf.col("__r__x")) * dec(sf.col("__r__y")) * cnt).as("__sab"))
      .select({
        val n = sf.col("n").cast("double")
        val sa = sf.col("__sa").cast("double")
        val sb = sf.col("__sb").cast("double")
        val num = n * sf.col("__sab").cast("double") - sa * sb
        val da = n * sf.col("__saa").cast("double") - sa * sa
        val db = n * sf.col("__sbb").cast("double") - sb * sb
        Seq(sf.col("n"),
          sf.when(da > 0 && db > 0,
            gf.roundAt(num / sf.sqrt(da * db), 4)).as("rho"))
      }: _*)
  }

  /** Split-conformal threshold calibration (one-class / recall-
    * guaranteed): pick the score threshold as the ⌊α·(n+1)⌋-th
    * SMALLEST calibration-positive score, so under exchangeability a
    * fresh positive scores ≥ t with probability ≥ 1−α — the
    * distribution-free "flag ≥ 90% of real positives, whatever the
    * scores look like" guarantee (Vovk et al.), reported with the
    * observed eval-side coverage and flag rate. Calibration membership
    * is the portable deterministic key hash (q78), so the split —
    * and therefore the threshold — is a pure function of the data.
    *
    * Exactness: the threshold is an order statistic picked by exact
    * integer prefix counts over the (already 1e-4-snapped) score
    * domain via `globalPrefixSums` — range-partitioned, never a
    * one-task window; coverage/flag fractions are the only doubles.
    *
    * Scale shape: one score-domain count + prefix pass, one broadcast
    * threshold row, one map-only eval pass. */
  def conformalThreshold(df: DataFrame, scoreCol: String, labelCol: String,
                         idCol: String, alpha: Double = 0.1,
                         calBuckets: Int = 5000): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0, 1), got $alpha")
    require(calBuckets >= 1 && calBuckets <= 9999,
      s"calBuckets must be in [1, 9999], got $calBuckets")
    val base = graft.operators.Par.spread(df.select(
        sf.col(scoreCol).cast("double").as("score"),
        (sf.col(labelCol).cast("bigint") > 0).as("y"),
        graft.operators.Sampling.hashBucket(sf.col(idCol)).as("__b")))
      .filter(sf.col("score").isNotNull && sf.col("y").isNotNull)
      .localCheckpoint(true) // cal + eval passes both read it
    val calPos = base.filter(sf.col("__b") < calBuckets && sf.col("y"))
    val counts = calPos.groupBy("score").agg(sf.count(sf.lit(1)).as("__c"))
    val cum = graft.operators.StarSchema.globalPrefixSums(
      counts, Seq("score"), "__c", "__cum")
    val nk = calPos.agg(sf.count(sf.lit(1)).as("n_cal_pos"))
      .select(sf.col("n_cal_pos"),
        sf.floor(sf.lit(alpha) * (sf.col("n_cal_pos") + 1)).cast("long").as("k"))
    val thr = cum.crossJoin(sf.broadcast(nk))
      .filter(sf.col("__cum") >= sf.col("k"))
      .agg(sf.min("score").as("threshold"))
    val ev = sf.col("__b") >= calBuckets
    base.crossJoin(sf.broadcast(nk)).crossJoin(sf.broadcast(thr))
      .agg(sf.max("n_cal_pos").as("n_cal_pos"), sf.max("k").as("k"),
        sf.max("threshold").as("threshold"),
        sf.sum(ev.cast("long")).as("n_eval"),
        sf.sum((ev && sf.col("score") >= sf.col("threshold")).cast("long")).as("n_flagged"),
        sf.sum((ev && sf.col("y")).cast("long")).as("n_eval_pos"),
        sf.sum((ev && sf.col("y") && sf.col("score") >= sf.col("threshold"))
          .cast("long")).as("n_covered"))
      .select(sf.col("n_cal_pos"), sf.col("k"), sf.col("threshold"),
        sf.col("n_eval"), sf.col("n_flagged"), sf.col("n_eval_pos"),
        sf.col("n_covered"),
        sf.when(sf.col("n_eval_pos") > 0, gf.roundAt(
          sf.col("n_covered").cast("double") / sf.col("n_eval_pos").cast("double"),
          4)).as("coverage"),
        sf.when(sf.col("n_eval") > 0, gf.roundAt(
          sf.col("n_flagged").cast("double") / sf.col("n_eval").cast("double"),
          4)).as("flagged_frac"))
  }

  /** F1-optimal operating point over a [[prCurve]] output: the one-row
    * "set the classifier threshold HERE" answer — the sweep finds
    * every operating point, this picks the max-F1 one (ties break to
    * the HIGHER threshold: same F1, fewer flagged rows). Pure
    * composition: one combinable max(struct) argmax over the
    * curve's threshold domain; f1 is already 1e-6-snapped upstream so
    * the argmax is deterministic. */
  def bestF1Threshold(curve: DataFrame): DataFrame =
    curve.filter(sf.col("f1").isNotNull)
      .agg(sf.max(sf.struct(sf.col("f1"), sf.col("threshold"),
        sf.col("precision"), sf.col("recall"), sf.col("tp"), sf.col("fp"),
        sf.col("fn"), sf.col("tn"))).as("m"))
      .select(sf.col("m.threshold").as("threshold"), sf.col("m.f1").as("f1"),
        sf.col("m.precision").as("precision"), sf.col("m.recall").as("recall"),
        sf.col("m.tp").as("tp"), sf.col("m.fp").as("fp"),
        sf.col("m.fn").as("fn"), sf.col("m.tn").as("tn"))

  /** Embedding-table health check, one row: the pre-flight audit every
    * vector pipeline needs before ANN/dedup consumes the table —
    * null vectors, wrong-dimension vectors, non-finite elements, and
    * zero norms all silently corrupt cosine math downstream; the norm
    * spread (min/mean/max) catches unnormalized mixtures (two
    * encoders' outputs concatenated) at a glance.
    *
    * Determinism: squared norms are 1e-12-snapped per-element integer
    * sums (order-free); each vector's norm is ONE IEEE
    * correctly-rounded sqrt re-snapped to a 1e-9 integer, so min/max/
    * mean are integer aggregations with one final division each.
    * Health counts only rows that pass the previous screens (null →
    * not dim-checked; wrong-dim → still norm-checked; non-finite →
    * excluded from norm stats).
    *
    * Scale shape: ONE map-only pass + one combinable single-row
    * aggregation. */
  def embeddingHealth(emb: DataFrame, vecCol: String,
                      expectedDim: Int): DataFrame = {
    require(expectedDim >= 1, s"expectedDim must be >= 1, got $expectedDim")
    val v = sf.col(vecCol).cast("array<double>")
    val isNull = v.isNull
    val badDim = !isNull && sf.size(v) =!= expectedDim
    val nonFinite = !isNull &&
      sf.exists(v, x => sf.isnan(x) || x === Double.PositiveInfinity ||
        x === Double.NegativeInfinity)
    val norm2fx = sf.aggregate(v, sf.lit(0L),
      (acc, x) => acc + sf.floor(x * x * 1e12 + 0.5).cast("long"))
    val norm9 = sf.floor(sf.sqrt(norm2fx.cast("double") / 1e12) * 1e9 + 0.5)
      .cast("long")
    val ok = !isNull && !nonFinite
    emb.select(isNull.as("__nul"), badDim.as("__bad"), nonFinite.as("__nf"),
        sf.when(ok, norm9).as("__n9"))
      .agg(sf.count(sf.lit(1)).as("n_vectors"),
        sf.sum(sf.col("__nul").cast("long")).as("n_null"),
        sf.sum(sf.col("__bad").cast("long")).as("n_wrong_dim"),
        sf.sum(sf.col("__nf").cast("long")).as("n_nonfinite"),
        sf.sum((sf.col("__n9") === 0L).cast("long")).as("n_zero_norm"),
        sf.min("__n9").as("__mn"), sf.max("__n9").as("__mx"),
        sf.sum("__n9").as("__s"), sf.count("__n9").as("__c"))
      .select(sf.col("n_vectors"), sf.col("n_null"), sf.col("n_wrong_dim"),
        sf.col("n_nonfinite"), sf.col("n_zero_norm"),
        gf.roundAt(sf.col("__mn").cast("double") / 1e9, 4).as("min_norm"),
        gf.roundAt(sf.col("__mx").cast("double") / 1e9, 4).as("max_norm"),
        sf.when(sf.col("__c") > 0, gf.roundAt(sf.col("__s").cast("double") / 1e9 /
          sf.col("__c").cast("double"), 4)).as("mean_norm"))
  }

  /** Duplication spectrum: the multiplicity histogram of a content key
    * — for each m, how many DISTINCT contents occur exactly m times,
    * how many rows that is, their share of the table, and the rows
    * exact dedup would delete ((m−1)·contents) — the one-page "how
    * duplicated is this corpus, and in what shape" datasheet number
    * (a heavy m=2 band means mirror copies; a long tail means
    * boilerplate). Pass `functions.fingerprint(col)` for
    * normalized-text identity or any key expression.
    *
    * Scale shape: one content-keyed count with map-side combine (the
    * only content-cardinality shuffle — the key, never the text),
    * then a histogram-domain re-agg and one broadcast single-row
    * total. Exact integers; the share is the only double. */
  def duplicationSpectrum(df: DataFrame, key: Column): DataFrame = {
    val per = graft.operators.Par.spread(df.select(key.as("__k")))
      .groupBy("__k").agg(sf.count(sf.lit(1)).as("multiplicity"))
    val spec = per.groupBy("multiplicity")
      .agg(sf.count(sf.lit(1)).as("n_contents"))
    val tot = spec.agg(sf.sum(sf.col("multiplicity") * sf.col("n_contents"))
      .cast("long").as("__n_total"))
    spec.crossJoin(sf.broadcast(tot))
      .select(sf.col("multiplicity"), sf.col("n_contents"),
        (sf.col("multiplicity") * sf.col("n_contents")).as("n_rows"),
        gf.roundAt((sf.col("multiplicity") * sf.col("n_contents")).cast("double") /
          sf.col("__n_total").cast("double"), 4).as("row_share"),
        ((sf.col("multiplicity") - 1) * sf.col("n_contents")).as("dedup_savings"))
      .orderBy("multiplicity")
  }

  /** Semi-structured JSON key/type profile — the schema a schemaless
    * column actually has: for every top-level key, how many rows carry
    * it and what VALUE KIND each occurrence is (int/float/bool/null/
    * object/array/string). This is the drift detector for event
    * `props`-style columns: a key flipping int→string or quietly
    * disappearing is invisible to column-level profiling because the
    * whole blob is one VARCHAR. Kinds are classified from the raw
    * value text with engine-portable regexes (both engines see the
    * identical unquoted scalar / raw-JSON-composite text).
    *
    * Scale shape: one map-only parse + explode per row (fan-out = keys
    * per object, bounded by payload size), one map-side-combined
    * groupBy over the (key, kind) DOMAIN, totals on a broadcast 1-row
    * frame. Unparseable rows drop out of the parse (count them with
    * q136's corrupt-record reader if that matters). */
  def jsonKeyProfile(df: DataFrame, jsonCol: String): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    val m = sf.from_json(sf.col(jsonCol), MapType(StringType, StringType))
    val base = df.filter(sf.col(jsonCol).isNotNull)
    val total = base.select(m.as("__m")).filter(sf.col("__m").isNotNull)
      .agg(sf.count(sf.lit(1)).as("n_rows"))
    val v = sf.col("__v")
    // numeric classes take optional sign, optional fraction (incl.
    // trailing-dot '1.'), optional exponent ('1e5', '1.5E-3') — a
    // float-FORMATTING change must not masquerade as num->string drift
    val kind = sf.when(v.isNull, "null")
      .when(v.rlike("^[+-]?[0-9]+$"), "int")
      .when(v.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"), "float")
      .when(v.isin("true", "false"), "bool")
      .when(v.startsWith("{"), "object")
      .when(v.startsWith("["), "array")
      .otherwise("string")
    base.select(sf.explode(m).as(Seq("key", "__v")))
      .groupBy(sf.col("key"), kind.as("kind"))
      .agg(sf.count(sf.lit(1)).as("n_values"))
      .crossJoin(sf.broadcast(total))
      .select(sf.col("key"), sf.col("kind"), sf.col("n_values"),
        gf.roundAt(sf.col("n_values").cast("double") /
          sf.col("n_rows").cast("double"), 6).as("row_share"))
      .orderBy("key", "kind")
  }

  /** Murphy decomposition of the Brier score (Murphy 1973) over the
    * q120 confidence bins: BRIER (overall mean squared error of the
    * probability forecast), RELIABILITY = Σn_k(f̄_k−ō_k)²/N (how far
    * stated confidence sits from realized accuracy — what ECE measures
    * in L1), RESOLUTION = Σn_k(ō_k−ō)²/N (how much the forecast
    * separates outcomes — a calibrated-but-constant classifier scores
    * zero here, which ECE can't see), and UNCERTAINTY = ō(1−ō) (the
    * base-rate floor). Together they answer "is the classifier bad
    * because it's miscalibrated or because it doesn't discriminate?"
    *
    * Determinism: confidences snap to the 1e-4 grid (the q120 bin
    * protocol); the overall Brier is an EXACT decimal(38) integer sum
    * of (c4−10⁴y)²; per-bin squared terms are pinned doubles snapped
    * 1e-9 BEFORE the unordered bin-domain sum; every output one final
    * pinned assembly rounded 1e-6.
    *
    * Scale shape: one map-side-combined groupBy(bin) (nBins rows),
    * then a one-row reduction joined back by broadcast. */
  def brierDecomposition(df: DataFrame, confCol: String, outcomeCol: String,
                         nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 64, s"nBins must be in [2, 64], got $nBins")
    val conf4 = sf.floor(sf.col(confCol).cast("double") * 1e4 + 0.5).cast("long")
    val d = sf.col("__c4") - sf.col("__y") * 10000L
    val g = df.filter(sf.col(confCol).isNotNull && sf.col(outcomeCol).isNotNull)
      .select(conf4.as("__c4"), sf.col(outcomeCol).cast("long").as("__y"))
      .withColumn("bin", sf.least(sf.expr(s"(__c4 * $nBins) div 10000"),
        sf.lit(nBins - 1L)))
      .groupBy("bin")
      .agg(sf.count(sf.lit(1)).as("n"), sf.sum("__y").as("n_pos"),
        sf.sum(dec(sf.col("__c4"))).as("s_c4"),
        sf.sum(dec(d) * dec(d)).as("s_d2"))
    val tot = g.agg(sf.sum("n").cast("long").as("nt"),
      sf.sum("n_pos").cast("long").as("npos"), sf.sum("s_d2").as("sd2"))
    val nD = sf.col("n").cast("double")
    val fbar = sf.col("s_c4").cast("double") / 1e4 / nD
    val obin = sf.col("n_pos").cast("double") / nD
    val obar = sf.col("npos").cast("double") / sf.col("nt").cast("double")
    def fx9(t: Column) = sf.floor(nD * (t * t) * 1e9 + 0.5).cast("long")
    g.crossJoin(sf.broadcast(tot))
      .agg(sf.max("nt").as("n_rows"), sf.max("npos").as("__np"),
        sf.max("sd2").as("__sd2"),
        sf.sum(fx9(fbar - obin)).as("__rel"),
        sf.sum(fx9(obin - obar)).as("__res"))
      .select(sf.col("n_rows"),
        gf.roundAt(sf.col("__sd2").cast("double") / 1e8 /
          sf.col("n_rows").cast("double"), 6).as("brier"),
        gf.roundAt(sf.col("__rel").cast("double") / 1e9 /
          sf.col("n_rows").cast("double"), 6).as("reliability"),
        gf.roundAt(sf.col("__res").cast("double") / 1e9 /
          sf.col("n_rows").cast("double"), 6).as("resolution"),
        gf.roundAt((sf.col("__np").cast("double") / sf.col("n_rows").cast("double")) *
          (sf.lit(1.0) - sf.col("__np").cast("double") / sf.col("n_rows").cast("double")), 6)
          .as("uncertainty"))
  }

  /** Cochran–Mantel–Haenszel stratified 2×2 test + the MH common odds
    * ratio — the A/B readout that CONTROLS FOR a confounder the
    * marginal q99/q211 tests can't: pooling strata with different
    * base rates invites Simpson's paradox; CMH tests the association
    * WITHIN each stratum and combines the evidence. Per stratum k:
    * E_k = n1·m1/N, V_k = n1·n0·m1·m0/(N²(N−1)),
    * CMH = (Σ(a_k−E_k))²/ΣV_k; MH OR = Σ(a·d/N)/Σ(b·c/N).
    *
    * Determinism: a/b/c/d are exact longs; every per-stratum rational
    * is ONE pinned double division of decimal(38) integer products,
    * snapped 1e-6 BEFORE the unordered cross-stratum sum (exact
    * longs); final assemblies pinned. Strata with N < 2 are excluded
    * (V undefined).
    *
    * Scale shape: one map-side-combined groupBy(stratum) over the
    * event stream, then a one-row aggregate over the stratum domain.
    * Never sorts, never windows. */
  def cmhTest(df: DataFrame, stratumCol: String,
              groupA: Column, success: Column): DataFrame = {
    def cnt(p: Column) = sf.sum(p.cast("long"))
    val cells = df.filter(groupA.isNotNull && success.isNotNull)
      .select(sf.col(stratumCol).as("k"), groupA.as("ga"), success.as("sc"))
      .groupBy("k")
      .agg(cnt(sf.col("ga") && sf.col("sc")).as("a"),
        cnt(sf.col("ga") && !sf.col("sc")).as("b"),
        cnt(!sf.col("ga") && sf.col("sc")).as("c"),
        cnt(!sf.col("ga") && !sf.col("sc")).as("d"))
      .withColumn("n", sf.col("a") + sf.col("b") + sf.col("c") + sf.col("d"))
      .filter(sf.col("n") >= 2)
    val n1 = sf.col("a") + sf.col("b")
    val n0 = sf.col("c") + sf.col("d")
    val m1 = sf.col("a") + sf.col("c")
    val m0 = sf.col("b") + sf.col("d")
    def fx6(c: Column) = sf.floor(c * 1e6 + 0.5).cast("long")
    val diff = sf.col("a").cast("double") -
      (dec(n1) * dec(m1)).cast("double") / sf.col("n").cast("double")
    val v = (dec(n1) * dec(n0) * dec(m1) * dec(m0)).cast("double") /
      (dec(sf.col("n")) * dec(sf.col("n")) * dec(sf.col("n") - 1)).cast("double")
    val orN = (dec(sf.col("a")) * dec(sf.col("d"))).cast("double") /
      sf.col("n").cast("double")
    val orD = (dec(sf.col("b")) * dec(sf.col("c"))).cast("double") /
      sf.col("n").cast("double")
    val t = sf.col("sd").cast("double") / 1e6
    cells
      .agg(sf.count(sf.lit(1)).as("n_strata"),
        sf.sum("n").cast("long").as("n_rows"),
        sf.sum(fx6(diff)).as("sd"), sf.sum(fx6(v)).as("sv"),
        sf.sum(fx6(orN)).as("son"), sf.sum(fx6(orD)).as("sod"))
      .select(sf.col("n_strata"), sf.col("n_rows"),
        sf.when(sf.col("sv") > 0, gf.roundAt(
          (t * t) / (sf.col("sv").cast("double") / 1e6), 6)).as("cmh_stat"),
        sf.when(sf.col("sod") > 0, gf.roundAt(
          sf.col("son").cast("double") / sf.col("sod").cast("double"), 6))
          .as("mh_odds_ratio"))
  }

  /** Breslow–Day homogeneity test (Breslow & Day 1980, §IV.4.2) for
    * the stratified 2×2 family: [[cmhTest]] ASSUMES one common odds
    * ratio across strata and tests whether it is 1 — but if the
    * effect genuinely DIFFERS by stratum (the treatment helps mobile
    * and hurts desktop), the MH pooled OR is a fiction. BD tests
    * exactly that assumption: per stratum, the expected a-cell ã
    * under the pooled ψ solves the quadratic
    * ã(n₀−m₁+ã) = ψ(n₁−ã)(m₁−ã), and
    * BD = Σ (a−ã)²·(1/ã + 1/(n₁−ã) + 1/(m₁−ã) + 1/(n₀−m₁+ã))
    * ~ χ²(strata−1) under homogeneity. Run it BEFORE trusting q228's
    * pooled row.
    *
    * Determinism: cells exact longs ([[cmhTest]]'s collapse); ψ is
    * the 1e-6-ROUNDED MH odds ratio over the SAME included strata
    * (documented — makes the pooled scalar a pinned literal for both
    * engines); the quadratic root is one pinned assembly (IEEE sqrt;
    * the in-range root selected by the margin bounds, the ψ = 1
    * degenerate case taking the exact linear branch), each stratum's
    * term snaps 1e-6 before the unordered sum, BD rounds 1e-4.
    * Strata with ANY zero margin are excluded (every expected cell
    * must be positive — the classical requirement, documented);
    * ψ undefined (no discordant products) yields NULL.
    *
    * Scale shape: [[cmhTest]]'s — one map-side-combined
    * groupBy(stratum) + two stratum-domain reduces with a broadcast
    * scalar between them. */
  def breslowDay(df: DataFrame, stratumCol: String,
                 groupA: Column, success: Column): DataFrame = {
    def cnt(p: Column) = sf.sum(p.cast("long"))
    def fx6(c: Column) = sf.floor(c * 1e6 + 0.5).cast("long")
    val cells = df.filter(groupA.isNotNull && success.isNotNull)
      .select(sf.col(stratumCol).as("k"), groupA.as("ga"), success.as("sc"))
      .groupBy("k")
      .agg(cnt(sf.col("ga") && sf.col("sc")).as("a"),
        cnt(sf.col("ga") && !sf.col("sc")).as("b"),
        cnt(!sf.col("ga") && sf.col("sc")).as("c"),
        cnt(!sf.col("ga") && !sf.col("sc")).as("d"))
      .withColumn("n", sf.col("a") + sf.col("b") + sf.col("c") + sf.col("d"))
      .filter(sf.col("a") + sf.col("b") > 0 && sf.col("c") + sf.col("d") > 0 &&
        sf.col("a") + sf.col("c") > 0 && sf.col("b") + sf.col("d") > 0)
      .localCheckpoint(true) // psi reduce + term reduce read it
    val orN = (dec(sf.col("a")) * dec(sf.col("d"))).cast("double") /
      sf.col("n").cast("double")
    val orD = (dec(sf.col("b")) * dec(sf.col("c"))).cast("double") /
      sf.col("n").cast("double")
    val psiF = cells.agg(sf.count(sf.lit(1)).as("n_strata"),
        sf.sum("n").cast("long").as("n_rows"),
        sf.sum(fx6(orN)).as("__son"), sf.sum(fx6(orD)).as("__sod"))
      .select(sf.col("n_strata"), sf.col("n_rows"),
        sf.when(sf.col("__sod") > 0, gf.roundAt(
          sf.col("__son").cast("double") / sf.col("__sod").cast("double"), 6))
          .as("mh_odds_ratio"))
    val terms = cells.crossJoin(sf.broadcast(psiF))
      .select({
        val psi = sf.col("mh_odds_ratio")
        val aD = sf.col("a").cast("double")
        val n1 = (sf.col("a") + sf.col("b")).cast("double")
        val n0 = (sf.col("c") + sf.col("d")).cast("double")
        val m1 = (sf.col("a") + sf.col("c")).cast("double")
        val nD = sf.col("n").cast("double")
        val qa = sf.lit(1.0) - psi
        val qb = (n0 - m1) + psi * (n1 + m1)
        val qc = -psi * n1 * m1
        val sq = sf.sqrt(qb * qb - qa * 4 * qc)
        val r1 = (-qb + sq) / (qa * 2)
        val r2 = (-qb - sq) / (qa * 2)
        val lo = sf.greatest(sf.lit(0.0), m1 - n0)
        val hi = sf.least(n1, m1)
        val atil = sf.when(sf.abs(qa) < 1e-12, n1 * m1 / nD)
          .otherwise(sf.when(r1 >= lo && r1 <= hi, r1).otherwise(r2))
        val recip = sf.lit(1.0) / atil + sf.lit(1.0) / (n1 - atil) +
          sf.lit(1.0) / (m1 - atil) + sf.lit(1.0) / (n0 - m1 + atil)
        fx6((aD - atil) * (aD - atil) * recip).as("__t6")
      })
      .agg(sf.sum("__t6").as("__sbd"))
    psiF.crossJoin(sf.broadcast(terms))
      .select(sf.col("n_strata"), sf.col("n_rows"), sf.col("mh_odds_ratio"),
        sf.when(sf.col("mh_odds_ratio").isNotNull && sf.col("n_strata") > 1,
          gf.roundAt(sf.col("__sbd").cast("double") / 1e6, 4)).as("bd_stat"),
        (sf.col("n_strata") - 1).as("dof"))
  }

  /** McNemar's paired test (McNemar 1947) over two per-item
    * correctness columns — the "did model B actually beat model A?"
    * question asked the RIGHT way: on the SAME items, only the
    * discordant pairs carry evidence (items both got right or both
    * got wrong say nothing about the difference), so the statistic is
    * (n_only_a − n_only_b)² / (n_only_a + n_only_b) — far more
    * sensitive than comparing two independent accuracy intervals.
    * The continuity-corrected variant ((|diff|−1)² / disc, floored at
    * 0) is reported beside it — at corpus scale they agree; on small
    * eval sets cc is the honest one.
    *
    * Determinism: all five cells are exact integer counts from ONE
    * map-side-combined single-row aggregation; both statistics are
    * single pinned double assemblies rounded 1e-6; zero discordant
    * pairs → NULL statistics (no evidence either way), accuracies are
    * exact ratios rounded 1e-6. Map-only + one-row reduce: zero
    * data-row shuffles. */
  def mcnemarTest(df: DataFrame, aCorrectCol: String,
                  bCorrectCol: String): DataFrame = {
    val a = sf.col(aCorrectCol).cast("boolean")
    val b = sf.col(bCorrectCol).cast("boolean")
    def cnt(p: Column) = sf.sum(p.cast("long")).cast("long")
    val g = df.filter(a.isNotNull && b.isNotNull)
      .agg(sf.count(sf.lit(1)).as("n_pairs"),
        cnt(a && b).as("n_both"), cnt(!a && !b).as("n_neither"),
        cnt(a && !b).as("n_only_a"), cnt(!a && b).as("n_only_b"))
    val disc = (sf.col("n_only_a") + sf.col("n_only_b")).cast("double")
    val diff = (sf.col("n_only_a") - sf.col("n_only_b")).cast("double")
    val ccNum = sf.greatest(sf.abs(diff) - 1.0, sf.lit(0.0))
    g.select(sf.col("n_pairs"), sf.col("n_both"), sf.col("n_neither"),
      sf.col("n_only_a"), sf.col("n_only_b"),
      gf.roundAt((sf.col("n_both") + sf.col("n_only_a")).cast("double") /
        sf.col("n_pairs").cast("double"), 6).as("acc_a"),
      gf.roundAt((sf.col("n_both") + sf.col("n_only_b")).cast("double") /
        sf.col("n_pairs").cast("double"), 6).as("acc_b"),
      sf.when(disc > 0, gf.roundAt(diff * diff / disc, 6)).as("mcnemar_stat"),
      sf.when(disc > 0, gf.roundAt(ccNum * ccNum / disc, 6)).as("mcnemar_cc"))
  }

  /** Wasserstein-1 distance (earth-mover, Monge 1781/Kantorovich
    * 1942) between two numeric samples: W₁ = ∫\|F_a − F_b\| dv — the
    * AREA between the empirical CDFs. The drift number that [[ksTest]]
    * (max gap) and [[psiDrift]] (binned log-ratio) can't give: it's in
    * the UNITS OF THE VALUE ("scores shifted 0.03 probability mass ×
    * value"), weighs the whole distribution not just the worst point,
    * and keeps responding after distributions stop overlapping (KS
    * saturates at 1, KL/PSI blow up). The standard embedding/score
    * drift metric between model versions.
    *
    * Determinism: values snap to the 1e-4 grid; on the merged DISTINCT
    * value domain the CDF gap at each step is the exact rational
    * \|c_a·n_b − c_b·n_a\| / (n_a·n_b), so W₁ accumulates as the exact
    * DECIMAL(38,0) sum of \|c_a·n_b − c_b·n_a\|·gap₄ with ONE final
    * pinned division by n_a·n_b·1e4, rounded 1e-6. A one-value domain
    * gives W₁ = 0; an empty side gives n = 0 and a NULL distance.
    *
    * Scale shape: the [[valueDomain]] collapse (on the 1e-4 grid); the
    * running sums, the lead-gap and the totals are one window pass over
    * that bounded VALUE DOMAIN (constant key, the [[ksTest]] window);
    * single-row finish.
    * Raw rows never sort, never shuffle by value. */
  def wassersteinDistance(dfA: DataFrame, dfB: DataFrame,
                          valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dom = valueDomain(dfA, dfB,
      sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long"))
    val byV = Window.partitionBy(sf.pmod(sf.hash(sf.col("__v")), sf.lit(1))).orderBy("__v")
    def upTo(end: Long) = byV.rowsBetween(Window.unboundedPreceding, end)
    // ONE select, so one window pass (one sort of the domain): running
    // sums, the lead gap and the totals (the whole-partition frame); the
    // last value has no gap, so its NULL term drops out of the sum
    dom
      .select(sf.col("*"),
        sf.sum("__ca").over(upTo(Window.currentRow)).as("cum_a"),
        sf.sum("__cb").over(upTo(Window.currentRow)).as("cum_b"),
        (sf.lead("__v", 1).over(byV) - sf.col("__v")).as("gap4"),
        sf.sum("__ca").over(upTo(Window.unboundedFollowing)).as("na"),
        sf.sum("__cb").over(upTo(Window.unboundedFollowing)).as("nb"))
      .agg(sf.max("na").as("na"), sf.max("nb").as("nb"),
        sf.sum(sf.abs(dec(sf.col("cum_a")) * dec(sf.col("nb")) -
          dec(sf.col("cum_b")) * dec(sf.col("na"))) * dec(sf.col("gap4")))
          .as("__s"))
      .select(sf.coalesce(sf.col("na"), sf.lit(0L)).as("n_a"),
        sf.coalesce(sf.col("nb"), sf.lit(0L)).as("n_b"),
        sf.when(sf.col("na") > 0 && sf.col("nb") > 0, gf.roundAt(
          sf.coalesce(sf.col("__s"), dec(sf.lit(0))).cast("double") /
            (sf.col("na").cast("double") * sf.col("nb").cast("double") * 1e4),
          6)).as("w1"))
  }

  /** Cumulative gains / decile-lift table — the TARGETING readout of a
    * scored population (which [[prCurve]]'s threshold sweep and
    * [[calibration]]'s reliability bins don't give): rank best-score-
    * first, cut into `nBuckets` equal-population buckets, and report
    * per bucket the positive rate, the CUMULATIVE share of all
    * positives captured (the gains curve), and lift vs the base rate —
    * "the top decile holds 3.4× its share of positives" is the number
    * a selection/curation budget decision actually uses.
    *
    * Determinism: scores snap to the 1e-4 grid and compress to the
    * DISTINCT-score domain; a score-run's bucket is
    * (rows-strictly-better × nBuckets) div n — every tied row lands in
    * ONE bucket, so the table is a pure function of the data (no
    * ntile, whose tie placement is order-dependent); rates/gains/lifts
    * are single pinned divisions of exact integers rounded 1e-6.
    *
    * Scale shape: one map-side-combined (score, n, n_pos) compression;
    * the cumulative + bucket assignment run on that bounded domain
    * (ksTest's constant-partition window convention); bucket rollup +
    * a ≤ nBuckets-row cumulative finish. Raw rows never sort. */
  def gainsChart(df: DataFrame, scoreCol: String, labelCol: String,
                 nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1000,
      s"nBuckets must be in [2, 1000], got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val s4 = sf.floor(sf.col(scoreCol).cast("double") * 1e4 + 0.5).cast("long")
    val dom = df.filter(sf.col(scoreCol).isNotNull && sf.col(labelCol).isNotNull)
      .select(s4.as("s4"), sf.col(labelCol).cast("long").as("__y"))
      .groupBy("s4")
      .agg(sf.count(sf.lit(1)).as("n"), sf.sum("__y").cast("long").as("np"))
    val byConst = Window.partitionBy(sf.pmod(sf.hash(sf.col("s4")), sf.lit(1)))
    val better = byConst.orderBy(sf.col("s4").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = dom.agg(sf.sum("n").cast("long").as("nt"),
      sf.sum("np").cast("long").as("npt"))
    val bucketed = dom
      .withColumn("__pre", sf.coalesce(sf.sum("n").over(better), sf.lit(0L)))
      .crossJoin(sf.broadcast(tot))
      .withColumn("bucket", sf.expr(s"(__pre * $nBuckets) div nt"))
      .groupBy("bucket")
      .agg(sf.sum("n").cast("long").as("n"), sf.sum("np").cast("long").as("n_pos"),
        sf.max("nt").as("nt"), sf.max("npt").as("npt"))
    val cumB = Window.partitionBy(sf.pmod(sf.hash(sf.col("bucket")), sf.lit(1)))
      .orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("__cumpos", sf.sum("n_pos").over(cumB))
      .select(sf.col("bucket").cast("int").as("bucket"), sf.col("n"),
        sf.col("n_pos"),
        gf.roundAt(sf.col("n_pos").cast("double") / sf.col("n").cast("double"), 6)
          .as("pos_rate"),
        sf.when(sf.col("npt") > 0, gf.roundAt(
          sf.col("__cumpos").cast("double") / sf.col("npt").cast("double"), 6))
          .as("gain"),
        sf.when(sf.col("npt") > 0, gf.roundAt(
          (sf.col("n_pos").cast("double") / sf.col("n").cast("double")) /
            (sf.col("npt").cast("double") / sf.col("nt").cast("double")), 6))
          .as("lift"))
      .orderBy("bucket")
  }

  /** Brown-Forsythe test (Brown & Forsythe 1974) — variance
    * homogeneity across groups, the assumption [[anovaF]] silently
    * makes: the one-way F statistic computed on absolute deviations
    * from each group's MEDIAN (Levene's test with the median center —
    * the robust variant that keeps its size under skew, which is why
    * it's the one worth shipping). A significant F here says the
    * groups differ in SPREAD, so a mean comparison needs Welch-style
    * care; it's also a useful drift alarm in its own right (a source
    * whose variance quietly doubles trips this before the mean
    * moves).
    *
    * Determinism: group medians come from [[quantileProfile]]
    * (distinct-value compression, quantile_cont interpolation,
    * 1e-4-rounded — actual data arithmetic, engine-portable);
    * deviations are IEEE doubles of raw value minus that rounded
    * median, then [[anovaF]]'s exact 1e-4 fx machinery takes over
    * unchanged.
    *
    * Scale shape: quantileProfile's compressed-domain median (the
    * corpus reduces map-side to (group, value, count)), an AQE-decided
    * median-attach join, then anovaF's map-side-combined one-row
    * reduction. The raw rows never sort. */
  def brownForsythe(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val base = df.filter(sf.col(valueCol).isNotNull)
    val med = quantileProfile(base, groupCol, valueCol, Seq("p50" -> 0.5))
      .select(sf.col(groupCol), sf.col("p50").as("__med"))
    val dev = base.join(med, Seq(groupCol))
      .select(sf.col(groupCol),
        sf.abs(sf.col(valueCol).cast("double") - sf.col("__med")).as("__dev"))
    anovaF(dev, groupCol, "__dev")
  }

  /** Welch's unequal-variance t-test + Cohen's d / Hedges' g effect
    * sizes (Welch 1947; Cohen 1988; Hedges 1981) — the general
    * two-sample mean comparison [[graft.operators.EventOps.abLift]]
    * specializes to its hash-split arms: arbitrary populations, the
    * Welch–Satterthwaite degrees of freedom the t needs to be read
    * against, and the STANDARDIZED effect sizes that say whether a
    * "significant" difference is big (the mean-scale companion of
    * [[cliffsDelta]]'s rank-scale answer). Hedges' g is d with the
    * small-sample bias factor 1 − 3/(4(n_a+n_b)−9).
    *
    * Determinism: values snap to the 1e-4 grid; per-side (n, Σ, Σ²)
    * are exact DECIMAL(38,0) sums from ONE pass over the tagged
    * union; means/variances/t/df/d/g are single pinned double
    * assemblies of those exact sums, rounded 1e-6 (1e-4 for t/df).
    * Degenerate inputs (either side < 2 rows, zero pooled or standard
    * error) yield NULL statistics, never a division blow-up.
    *
    * Scale shape: map-only tag + ONE map-side-combined single-row
    * aggregation — zero data-row shuffles, the abLift/mcnemarTest
    * shape. */
  def welchTTest(dfA: DataFrame, dfB: DataFrame, valueCol: String): DataFrame = {
    val x4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    def side(df: DataFrame, tag: Int) = df.filter(sf.col(valueCol).isNotNull)
      .select(x4.as("__x4"), sf.lit(tag).as("__t"))
    def cond(tag: Int, c: Column) = sf.when(sf.col("__t") === tag, c)
    side(dfA, 0).union(side(dfB, 1))
      .agg(
        sf.count(cond(0, sf.col("__x4"))).as("n_a"),
        sf.count(cond(1, sf.col("__x4"))).as("n_b"),
        sf.sum(cond(0, dec(sf.col("__x4")))).as("__sa"),
        sf.sum(cond(1, dec(sf.col("__x4")))).as("__sb"),
        sf.sum(cond(0, dec(sf.col("__x4")) * dec(sf.col("__x4")))).as("__ssa"),
        sf.sum(cond(1, dec(sf.col("__x4")) * dec(sf.col("__x4")))).as("__ssb"))
      .select({
        val na = sf.col("n_a").cast("double")
        val nb = sf.col("n_b").cast("double")
        def mean(s: String, n: Column) = sf.col(s).cast("double") / 1e4 / n
        // ANSI double division throws on /0 — keep the n−1 divisions
        // inside a lazy branch so a 1-row side degrades to NULL
        def vr(cnt: String, ss: String, m: Column, n: Column) =
          sf.when(sf.col(cnt) >= 2,
            (sf.col(ss).cast("double") / 1e8 - n * m * m) / (n - 1))
        val ma = mean("__sa", na); val mb = mean("__sb", nb)
        val va = vr("n_a", "__ssa", ma, na); val vb = vr("n_b", "__ssb", mb, nb)
        val se2 = va / na + vb / nb
        val t = (ma - mb) / sf.sqrt(se2)
        val dof = se2 * se2 /
          ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1))
        val pooled = sf.when(sf.col("n_a") + sf.col("n_b") > 2,
          ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
        val d = (ma - mb) / sf.sqrt(pooled)
        val g = d * (sf.lit(1.0) - sf.lit(3.0) / ((na + nb) * 4.0 - 9.0))
        val ok = sf.col("n_a") >= 2 && sf.col("n_b") >= 2
        Seq(sf.col("n_a"), sf.col("n_b"),
          sf.when(sf.col("n_a") > 0, gf.roundAt(ma, 6)).as("mean_a"),
          sf.when(sf.col("n_b") > 0, gf.roundAt(mb, 6)).as("mean_b"),
          sf.when(ok && se2 > 0, gf.roundAt(t, 4)).as("t_stat"),
          sf.when(ok && se2 > 0, gf.roundAt(dof, 4)).as("dof"),
          sf.when(ok && pooled > 0, gf.roundAt(d, 6)).as("cohens_d"),
          sf.when(ok && pooled > 0, gf.roundAt(g, 6)).as("hedges_g"))
      }: _*)
  }

  /** Kruskal–Wallis H test (Kruskal & Wallis 1952) — the k-group
    * rank-based analysis of variance: does `valueCol`'s DISTRIBUTION
    * sit higher in some `groupCol` levels than others, asked without
    * [[anovaF]]'s normality/equal-variance baggage (the k-group
    * generalization of [[mannWhitneyU]], with the same midrank tie
    * handling and the standard 1 − Σ(t³−t)/(N³−N) tie correction).
    *
    * Determinism: midranks on the DISTINCT-VALUE domain as exact
    * integer DOUBLED ranks (2·cumBefore + t + 1); each group's doubled
    * rank sum R2_g is an exact DECIMAL(38,0); the per-group term
    * A_g = (R2_g/2)²/(n_g·N·(N+1)) — bounded by n_g, so it can't
    * overflow — is assembled pinned and SNAPPED 1e-6 before the
    * unordered cross-group sum (the anovaF convention), then
    * H = 12·ΣA_g − 3(N+1) and the tie correction divide once. All
    * values tied (correction → 0) or k < 2 yield NULL.
    *
    * Scale shape: one map-side-combined (group, value) compression,
    * a value-domain cumulative window (the mannWhitneyU shape), one
    * AQE-decided rank-attach join on the value domain, a k-row group
    * reduction, a single-row finish. Raw rows never sort. */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = graft.operators.Par.spread(
        df.select(sf.col(groupCol).cast("string").as("__g"),
          sf.col(valueCol).cast("double").as("__v")))
      .filter(sf.col("__v").isNotNull && sf.col("__g").isNotNull)
      .groupBy("__g", "__v").agg(sf.count(sf.lit(1)).as("__c"))
      .localCheckpoint(true) // value totals + rank attach both read it
    val vt = cells.groupBy("__v").agg(sf.sum("__c").as("__t"))
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("__v")), sf.lit(1)))
      .orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vt.select(sf.col("__v"),
      (sf.coalesce(sf.sum("__t").over(w), sf.lit(0L)) * 2 + sf.col("__t") + 1)
        .as("__r2"),
      (dec(sf.col("__t")) * dec(sf.col("__t")) * dec(sf.col("__t")) -
        dec(sf.col("__t"))).as("__tie"))
    val tot = ranked.agg(sf.sum(sf.col("__tie")).as("__ties"))
    val perG = cells.join(ranked.select("__v", "__r2"), Seq("__v"))
      .groupBy("__g")
      .agg(sf.sum("__c").as("__n"),
        sf.sum(dec(sf.col("__c")) * dec(sf.col("__r2"))).as("__r2s"))
    val n = perG.agg(sf.sum("__n").as("__nt"))
    perG.crossJoin(sf.broadcast(n))
      .select({
        // A_g = (R2/2)^2 / (n_g N (N+1)), snapped 1e-6 pre-sum
        val r = sf.col("__r2s").cast("double") / 2
        val nt = sf.col("__nt").cast("double")
        val a = r * r / (sf.col("__n").cast("double") * nt * (nt + 1))
        Seq(sf.col("__n"), sf.col("__nt"),
          sf.floor(a * 1e6 + 0.5).cast("long").as("__a6"))
      }: _*)
      .agg(sf.count(sf.lit(1)).as("k"), sf.max("__nt").as("n"),
        sf.sum(dec(sf.col("__a6"))).as("__as"))
      .crossJoin(sf.broadcast(tot))
      .select({
        val nt = sf.col("n").cast("double")
        val h = sf.col("__as").cast("double") / 1e6 * 12 - (nt + 1) * 3
        val corr = sf.lit(1.0) - sf.col("__ties").cast("double") /
          ((dec(sf.col("n")) * dec(sf.col("n")) * dec(sf.col("n")) -
            dec(sf.col("n"))).cast("double"))
        Seq(sf.col("k"), sf.col("n"), (sf.col("k") - 1).as("dof"),
          sf.when(sf.col("k") > 1 && sf.col("n") > sf.col("k") && corr > 0,
            gf.roundAt(h / corr, 4)).as("h_stat"))
      }: _*)
  }

  /** Jarque–Bera normality test per group (Jarque & Bera 1980):
    * skewness, excess-free kurtosis, and JB = n/6·(S² + (K−3)²/4) —
    * the "is this column even roughly Gaussian" gate in front of
    * every mean±SD summary, z-score threshold, and [[anovaF]]-family
    * readout this module produces. Skew/kurtosis are scale-invariant,
    * so the 1e-4 value snap cancels and the moments work directly in
    * grid units.
    *
    * Determinism: per-group (n, Σx, Σx², Σx³, Σx⁴) are exact
    * DECIMAL(38,0) sums in one pass; central moments use the pinned
    * binomial expansions of those sums; skew/kurt/JB are single
    * pinned assemblies per group row (a bounded domain — no
    * cross-group sum, so nothing needs snapping), rounded 1e-6 (JB
    * 1e-4). Degenerate groups (n < 2 or zero variance) yield NULLs.
    *
    * Scale shape: ONE map-side-combined group aggregation (k rows) +
    * a map-only per-row finish. Zero joins, zero windows. */
  def jarqueBera(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val x4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val x = dec(sf.col("__x"))
    df.filter(sf.col(valueCol).isNotNull && sf.col(groupCol).isNotNull)
      .select(sf.col(groupCol).cast("string").as(groupCol), x4.as("__x"))
      .groupBy(groupCol)
      .agg(sf.count(sf.lit(1)).as("n"), sf.sum(x).as("__s1"),
        sf.sum(x * x).as("__s2"), sf.sum(x * x * x).as("__s3"),
        sf.sum(x * x * x * x).as("__s4"))
      .select({
        val n = sf.col("n").cast("double")
        val m1 = sf.col("__s1").cast("double") / n
        val m2 = sf.col("__s2").cast("double") / n - m1 * m1
        val m3 = sf.col("__s3").cast("double") / n -
          m1 * 3 * (sf.col("__s2").cast("double") / n) + m1 * 2 * m1 * m1
        val m4 = sf.col("__s4").cast("double") / n -
          m1 * 4 * (sf.col("__s3").cast("double") / n) +
          m1 * 6 * m1 * (sf.col("__s2").cast("double") / n) -
          m1 * 3 * m1 * m1 * m1
        val skew = m3 / (sf.sqrt(m2) * m2)
        val kurt = m4 / (m2 * m2)
        val jb = n / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4)
        val ok = sf.col("n") >= 2 && m2 > 0
        Seq(sf.col(groupCol), sf.col("n"),
          sf.when(ok, gf.roundAt(skew, 6)).as("skewness"),
          sf.when(ok, gf.roundAt(kurt, 6)).as("kurtosis"),
          sf.when(ok, gf.roundAt(jb, 4)).as("jb_stat"))
      }: _*)
      .orderBy(groupCol)
  }

  /** D'Agostino–Pearson K² omnibus normality test per group
    * (D'Agostino, Belanger & D'Agostino Jr. 1990): the FINITE-SAMPLE
    * normality verdict beside [[jarqueBera]] — JB's χ²(2) reference is
    * an asymptotic that is badly anti-conservative below n ≈ 2000,
    * while K² = Z₁² + Z₂² transforms skewness (D'Agostino 1970,
    * Johnson-SU) and kurtosis (Anscombe & Glynn 1983, Wilson–Hilferty
    * cube root) to near-exact standard normals at the n a per-group
    * split actually produces — and the two Z's localize WHICH moment
    * breaks normality where JB's single number can't.
    *
    * Determinism: the same exact DECIMAL(38,0) power sums as
    * [[jarqueBera]] (values snapped to the 1e-4 grid — skew/kurt are
    * scale-invariant so the grid cancels); every constant in the two
    * transformations is a pure function of n (exact double algebra),
    * the asinh is the pinned ln(y + √(y²+1)) expansion, the cube root
    * is the IEEE `cbrt`, and Z₁/Z₂ round 1e-6, K² 1e-4. Groups with
    * n < 9 (the transformation's validity floor), zero variance, or a
    * degenerate kurtosis denominator yield NULLs.
    *
    * Scale shape: ONE map-side-combined group aggregation (5 cells per
    * group) + a map-only per-row finish. Zero joins, zero windows. */
  def dagostinoK2(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val x4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val x = dec(sf.col("__x"))
    df.filter(sf.col(valueCol).isNotNull && sf.col(groupCol).isNotNull)
      .select(sf.col(groupCol).cast("string").as(groupCol), x4.as("__x"))
      .groupBy(groupCol)
      .agg(sf.count(sf.lit(1)).as("n"), sf.sum(x).as("__s1"),
        sf.sum(x * x).as("__s2"), sf.sum(x * x * x).as("__s3"),
        sf.sum(x * x * x * x).as("__s4"))
      .select({
        val n = sf.col("n").cast("double")
        val m1 = sf.col("__s1").cast("double") / n
        val r2 = sf.col("__s2").cast("double") / n
        val r3 = sf.col("__s3").cast("double") / n
        val r4 = sf.col("__s4").cast("double") / n
        val m2 = r2 - m1 * m1
        val m3 = r3 - m1 * 3 * r2 + m1 * 2 * m1 * m1
        val m4 = r4 - m1 * 4 * r3 + m1 * 6 * m1 * r2 - m1 * 3 * m1 * m1 * m1
        val g1 = m3 / (sf.sqrt(m2) * m2)
        val b2 = m4 / (m2 * m2)
        // --- skewness Z (D'Agostino 1970) ---
        val y = g1 * sf.sqrt((n + 1) * (n + 3) / ((n - 2) * 6))
        val beta2 = (n * n + n * 27 - 70) * 3 * (n + 1) * (n + 3) /
          ((n - 2) * (n + 5) * (n + 7) * (n + 9))
        val w2 = sf.sqrt((beta2 - 1) * 2) - 1
        val delta = sf.lit(1.0) / sf.sqrt(sf.log(w2) / 2)
        val alpha = sf.sqrt(sf.lit(2.0) / (w2 - 1))
        val ya = y / alpha
        val z1 = delta * sf.log(ya + sf.sqrt(ya * ya + 1))
        // --- kurtosis Z (Anscombe & Glynn 1983) ---
        val eb2 = (n - 1) * 3 / (n + 1)
        val vb2 = n * 24 * (n - 2) * (n - 3) /
          ((n + 1) * (n + 1) * (n + 3) * (n + 5))
        val xk = (b2 - eb2) / sf.sqrt(vb2)
        val sb1 = (n * n - n * 5 + 2) * 6 / ((n + 7) * (n + 9)) *
          sf.sqrt((n + 3) * 6 * (n + 5) / (n * (n - 2) * (n - 3)))
        val a = sf.lit(6.0) + sf.lit(8.0) / sb1 *
          (sf.lit(2.0) / sb1 + sf.sqrt(sf.lit(1.0) + sf.lit(4.0) / (sb1 * sb1)))
        val denomK = sf.lit(1.0) + xk * sf.sqrt(sf.lit(2.0) / (a - 4))
        val term = (sf.lit(1.0) - sf.lit(2.0) / a) / denomK
        val z2 = ((sf.lit(1.0) - sf.lit(2.0) / (a * 9)) - sf.cbrt(term)) /
          sf.sqrt(sf.lit(2.0) / (a * 9))
        val ok = sf.col("n") >= 9 && m2 > 0
        val okK = ok && denomK =!= 0.0
        Seq(sf.col(groupCol), sf.col("n"),
          sf.when(ok, gf.roundAt(z1, 6)).as("z_skew"),
          sf.when(okK, gf.roundAt(z2, 6)).as("z_kurt"),
          sf.when(okK, gf.roundAt(z1 * z1 + z2 * z2, 4)).as("k2_stat"))
      }: _*)
      .orderBy(groupCol)
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement for m ≥ 2
    * raters per item, the multi-rater generalization of [[cohensKappa]]:
    * the number a labeling pipeline with SEVERAL weak annotators
    * (declared metadata, a detector, a detector on a prefix, a second
    * model) gates on before trusting majority vote. Items with any
    * missing rating are excluded (complete-case, the classical
    * formulation's equal-raters assumption).
    *
    * Determinism: everything reduces to exact integers — ΣΣn_ij² over
    * the (item, category) cells and Σc_j² over category totals — so
    * P̄ = (S − N·m)/(N·m·(m−1)) and P̄e = Σc_j²/(N·m)² are single
    * pinned divisions, and kappa one more; no per-item rational ever
    * needs snapping. All ratings in one category (P̄e = 1) → NULL.
    *
    * Scale shape: an m-way union melt (map-only) + one
    * map-side-combined (item, category) count + two combinable
    * rollups (item domain, category domain) + a one-row finish. */
  def fleissKappa(df: DataFrame, idCol: String,
                  raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2,
      s"fleissKappa needs >= 2 rater columns, got ${raterCols.size}")
    val m = raterCols.size
    val base = df.filter(raterCols.map(c => sf.col(c).isNotNull).reduce(_ && _))
    val melted = raterCols.map(c =>
        base.select(sf.col(idCol).as("__i"), sf.col(c).cast("string").as("__r")))
      .reduce(_ union _)
    val cells = melted.groupBy("__i", "__r").agg(sf.count(sf.lit(1)).as("__nij"))
      .localCheckpoint(true) // item rollup + category rollup read it
    val items = cells.groupBy("__i")
      .agg(sf.sum(dec(sf.col("__nij")) * dec(sf.col("__nij"))).as("__s2"))
      .agg(sf.count(sf.lit(1)).as("n_items"), sf.sum("__s2").as("__s"))
    val cats = cells.groupBy("__r").agg(sf.sum("__nij").as("__cj"))
      .agg(sf.count(sf.lit(1)).as("n_categories"),
        sf.sum(dec(sf.col("__cj")) * dec(sf.col("__cj"))).as("__c2"))
    items.crossJoin(sf.broadcast(cats))
      .select({
        val nI = sf.col("n_items").cast("double")
        val pbar = (sf.col("__s").cast("double") - nI * m) /
          (nI * m * (m - 1))
        val pe = sf.col("__c2").cast("double") / ((nI * m) * (nI * m))
        val ok = sf.col("n_items") > 0 && pe < 1.0
        Seq(sf.col("n_items"), sf.lit(m).as("n_raters"),
          sf.col("n_categories"),
          sf.when(sf.col("n_items") > 0, gf.roundAt(pbar, 6)).as("p_observed"),
          sf.when(sf.col("n_items") > 0, gf.roundAt(pe, 6)).as("p_expected"),
          sf.when(ok, gf.roundAt((pbar - pe) / (sf.lit(1.0) - pe), 4)).as("kappa"))
      }: _*)
  }

  /** Krippendorff's α, nominal metric (Krippendorff 1970/2004) — the
    * agreement coefficient that survives MISSING ratings:
    * [[fleissKappa]] demands the same m raters on every item
    * (complete-case drops the rest), while α pairs whatever ratings
    * each item actually has (any item with ≥ 2 ratings contributes),
    * which is the real shape of a labeling pipeline where detectors
    * abstain. α = 1 − D_o/D_e with observed disagreement from
    * within-item pairs weighted 1/(m_i − 1) and expected disagreement
    * from the pooled margin:
    *
    *   D_o = (1/n_p)·Σ_i (m_i² − Σ_c n_ic²)/(m_i − 1),
    *   D_e = (n_p² − Σ_c t_c²)/(n_p·(n_p − 1)),   n_p = Σ_{m_i≥2} m_i.
    *
    * Determinism: cell counts are exact; each item's pair-disagreement
    * rational (the ÷(m_i−1)) snaps to the 1e-12 grid in
    * DECIMAL(38,0)-space before the unordered item sum (the
    * [[andersonDarling]] convention; exact whenever rater counts are
    * equal anyway since the divisor is then constant), margins are
    * exact DECIMAL(38,0), and D_o/D_e/α are one pinned assembly
    * rounded 1e-6 (α 1e-4). A degenerate margin (all pairable ratings
    * one category, D_e = 0) or n_p < 2 yields NULL α.
    *
    * Scale shape: a rater-column melt (map-only) + one
    * map-side-combined (item, category) cell count + an item-domain
    * rollup and a category-domain rollup + a one-row finish — the
    * [[fleissKappa]] shape, minus its completeness join. */
  def krippendorffAlpha(df: DataFrame, idCol: String,
                        raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2,
      s"krippendorffAlpha needs >= 2 rater columns, got ${raterCols.size}")
    val melted = raterCols.map(c =>
        df.filter(sf.col(c).isNotNull)
          .select(sf.col(idCol).as("__i"), sf.col(c).cast("string").as("__r")))
      .reduce(_ union _)
    val cells = melted.groupBy("__i", "__r").agg(sf.count(sf.lit(1)).as("__nij"))
      .localCheckpoint(true) // item rollup + category rollup read it
    val items = cells.groupBy("__i")
      .agg(sf.sum("__nij").cast("long").as("__mi"),
        sf.sum(dec(sf.col("__nij")) * dec(sf.col("__nij"))).as("__s2"))
      .filter(sf.col("__mi") >= 2)
      .select(sf.col("__mi"),
        sf.floor((dec(sf.col("__mi")) * dec(sf.col("__mi")) - sf.col("__s2"))
            .cast("double") / (sf.col("__mi").cast("double") - 1.0) * 1e12 + 0.5)
          .cast("decimal(38,0)").as("__d12"))
      .agg(sf.count(sf.lit(1)).as("n_items"),
        sf.sum("__mi").cast("long").as("__np"), sf.sum("__d12").as("__do12"))
    // margin over PAIRABLE items only (m_i >= 2) — the standard α
    val pairable = cells.groupBy("__i")
      .agg(sf.sum("__nij").cast("long").as("__mi"))
      .filter(sf.col("__mi") >= 2).select("__i")
    val cats = cells.join(pairable, Seq("__i"), "left_semi")
      .groupBy("__r").agg(sf.sum("__nij").cast("long").as("__tc"))
      .agg(sf.count(sf.lit(1)).as("n_categories"),
        sf.sum(dec(sf.col("__tc")) * dec(sf.col("__tc"))).as("__c2"))
    items.crossJoin(sf.broadcast(cats))
      .select({
        val np = sf.col("__np").cast("double")
        val dObs = sf.col("__do12").cast("double") / 1e12 / np
        val dExp = (np * np - sf.col("__c2").cast("double")) / (np * (np - 1.0))
        val ok = sf.col("__np") >= 2 && dExp > 0.0
        Seq(sf.col("n_items"), sf.col("__np").as("n_pairable"),
          sf.col("n_categories"),
          sf.when(sf.col("__np") >= 2, gf.roundAt(dObs, 6)).as("d_observed"),
          sf.when(sf.col("__np") >= 2, gf.roundAt(dExp, 6)).as("d_expected"),
          sf.when(ok, gf.roundAt(sf.lit(1.0) - dObs / dExp, 4)).as("alpha"))
      }: _*)
  }

  /** Wilson score confidence interval per group (Wilson 1927) — the
    * interval every per-group RATE in this module should be read
    * with: unlike the naive ±z√(p(1−p)/n) (which collapses to width
    * zero at p = 0 or 1 and escapes [0, 1]), Wilson stays honest at
    * the extremes and for small groups — exactly the regimes where a
    * DQ dashboard's "0% failure rate" row is a 12-row group, not a
    * guarantee. Two groups whose intervals don't overlap is the
    * eyeball-safe version of the two-proportion z-test.
    *
    * Determinism: n and k are exact integers; the center/half-width
    * assembly is one pinned double expression per group row (bounded
    * domain — nothing to snap), rounded 1e-6; z defaults to the
    * two-sided 95% literal 1.959964.
    *
    * Scale shape: ONE map-side-combined group aggregation + a
    * map-only per-row finish. Zero joins, zero windows. */
  def wilsonInterval(df: DataFrame, groupCol: String, successCol: String,
                     z: Double = 1.959964): DataFrame = {
    require(z > 0, s"z must be > 0, got $z")
    val s = sf.col(successCol).cast("boolean")
    df.filter(s.isNotNull && sf.col(groupCol).isNotNull)
      .groupBy(groupCol)
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(s.cast("long")).cast("long").as("k"))
      .select({
        val n = sf.col("n").cast("double")
        val p = sf.col("k").cast("double") / n
        val z2 = sf.lit(z * z)
        val denom = sf.lit(1.0) + z2 / n
        val center = (p + z2 / (n * 2)) / denom
        val half = sf.lit(z) *
          sf.sqrt(p * (sf.lit(1.0) - p) / n + z2 / (n * n * 4)) / denom
        Seq(sf.col(groupCol), sf.col("n"), sf.col("k"),
          gf.roundAt(p, 6).as("rate"),
          gf.roundAt(center - half, 6).as("wilson_lo"),
          gf.roundAt(center + half, 6).as("wilson_hi"))
      }: _*)
      .orderBy(groupCol)
  }

  /** Two-proportion effect datasheet — pooled z (the textbook
    * two-sample proportion test), risk difference, risk ratio with
    * the Katz log CI (Katz et al. 1978), and odds ratio with the
    * Woolf log CI (Woolf 1955): the COMPLETE epidemiology-style
    * readout of an A/B conversion split. [[wilsonInterval]] grades
    * each arm alone; this row says how the arms COMPARE, on the three
    * scales that answer different questions (absolute lift for
    * impact sizing, RR for "how many times likelier", OR for
    * rare-event symmetry) — reporting only one of them is how A/B
    * readouts mislead.
    *
    * The two groups are taken in LEXICOGRAPHIC order (a = min, b =
    * max; effects read "a relative to b"). If the column does not
    * have exactly two groups every effect is NULL (the arm counts
    * still print — actionable). Zero cells NULL exactly the effects
    * they break (RR needs k_b > 0, its CI also k_a > 0; OR/Woolf need
    * all four cells > 0; z needs a non-degenerate pool).
    *
    * Determinism: arm counts are exact longs; z, the ratios, and the
    * ln/exp CI assemblies are each ONE pinned double expression
    * rounded 1e-6; the 95% z is the literal 1.959964 (the
    * [[wilsonInterval]] convention).
    *
    * Scale shape: ONE map-side-combined group aggregation + two
    * broadcast joins of one-row frames + a one-row finish. */
  def twoProportionEffects(df: DataFrame, groupCol: String,
                           successCol: String,
                           z: Double = 1.959964): DataFrame = {
    require(z > 0, s"z must be > 0, got $z")
    val s = sf.col(successCol).cast("boolean")
    val arms = df.filter(s.isNotNull && sf.col(groupCol).isNotNull)
      .groupBy(sf.col(groupCol).cast("string").as("__g"))
      .agg(sf.count(sf.lit(1)).as("__n"), sf.sum(s.cast("long")).cast("long").as("__k"))
      .localCheckpoint(true) // min/max probe + two arm joins read it
    val which = arms.agg(sf.min("__g").as("__ga"), sf.max("__g").as("__gb"),
      sf.count(sf.lit(1)).as("__ng"))
    val a = arms.select(sf.col("__g").as("__ga"), sf.col("__n").as("n_a"),
      sf.col("__k").as("k_a"))
    val b = arms.select(sf.col("__g").as("__gb"), sf.col("__n").as("n_b"),
      sf.col("__k").as("k_b"))
    which.join(sf.broadcast(a), Seq("__ga")).join(sf.broadcast(b), Seq("__gb"))
      .select({
        val na = sf.col("n_a").cast("double")
        val nb = sf.col("n_b").cast("double")
        val ka = sf.col("k_a").cast("double")
        val kb = sf.col("k_b").cast("double")
        val pa = ka / na
        val pb = kb / nb
        val pool = (ka + kb) / (na + nb)
        val se0 = sf.sqrt(pool * (sf.lit(1.0) - pool) *
          (sf.lit(1.0) / na + sf.lit(1.0) / nb))
        val two = sf.col("__ng") === 2
        val rr = pa / pb
        val seRR = sf.sqrt(sf.lit(1.0) / ka - sf.lit(1.0) / na +
          sf.lit(1.0) / kb - sf.lit(1.0) / nb)
        val orr = (ka * (nb - kb)) / (kb * (na - ka))
        val seOR = sf.sqrt(sf.lit(1.0) / ka + sf.lit(1.0) / (na - ka) +
          sf.lit(1.0) / kb + sf.lit(1.0) / (nb - kb))
        val allPos = sf.col("k_a") > 0 && sf.col("k_b") > 0 &&
          sf.col("k_a") < sf.col("n_a") && sf.col("k_b") < sf.col("n_b")
        Seq(sf.col("__ga").as("group_a"), sf.col("__gb").as("group_b"),
          sf.col("n_a"), sf.col("k_a"), sf.col("n_b"), sf.col("k_b"),
          sf.when(two, gf.roundAt(pa, 6)).as("p_a"),
          sf.when(two, gf.roundAt(pb, 6)).as("p_b"),
          sf.when(two, gf.roundAt(pa - pb, 6)).as("risk_diff"),
          sf.when(two && se0 > 0.0, gf.roundAt((pa - pb) / se0, 6)).as("z_pooled"),
          sf.when(two && sf.col("k_b") > 0, gf.roundAt(rr, 6)).as("risk_ratio"),
          sf.when(two && sf.col("k_a") > 0 && sf.col("k_b") > 0, gf.roundAt(
            sf.exp(sf.log(rr) - sf.lit(z) * seRR), 6)).as("rr_lo"),
          sf.when(two && sf.col("k_a") > 0 && sf.col("k_b") > 0, gf.roundAt(
            sf.exp(sf.log(rr) + sf.lit(z) * seRR), 6)).as("rr_hi"),
          sf.when(two && allPos, gf.roundAt(orr, 6)).as("odds_ratio"),
          sf.when(two && allPos, gf.roundAt(
            sf.exp(sf.log(orr) - sf.lit(z) * seOR), 6)).as("or_lo"),
          sf.when(two && allPos, gf.roundAt(
            sf.exp(sf.log(orr) + sf.lit(z) * seOR), 6)).as("or_hi"))
      }: _*)
  }

  /** Cramér's V + φ + contingency/Tschuprow coefficients — the
    * EFFECT-SIZE readout of [[chiSquared]]'s association test: at
    * corpus scale every dependence is "significant", and
    * V = sqrt(χ²/(n·min(r−1, c−1))) ∈ [0, 1] answers the question the
    * χ² number can't — how STRONG is the association (the categorical
    * twin of [[cliffsDelta]] / [[welchTTest]]'s effect sizes).
    *
    * Determinism: runs [[chiSquared]]'s exact densified-grid chain
    * VERBATIM (composition, not re-implementation — the χ² printed
    * here is bit-identical to q107's), then four pinned single
    * divisions of the ROUNDED χ², each rounded 1e-6. Degenerate
    * tables (min(r, c) < 2 or n = 0) yield NULL coefficients.
    *
    * Scale shape: [[chiSquared]]'s — one (r, c)-domain cell
    * aggregation, margin grid, single-row finish — plus a map-only
    * one-row coefficient select. */
  def cramersV(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val core = chiSquaredKernel(df, rowCol, colCol)
    core.select({
      val chi2 = gf.roundAt(sf.col("__chi2").cast("double"), 4)
      val n = sf.col("__fn").cast("double")
      val minDim = sf.least(sf.col("__fnr"), sf.col("__fnc")).cast("double") - 1
      val geoDim = sf.sqrt((sf.col("__fnr").cast("double") - 1) *
        (sf.col("__fnc").cast("double") - 1))
      val ok = sf.col("__fn") > 0 &&
        sf.least(sf.col("__fnr"), sf.col("__fnc")) > 1
      Seq(sf.col("__fn").as("n"), sf.col("__fnr").as("n_rows"),
        sf.col("__fnc").as("n_cols"), chi2.as("chi2"),
        sf.when(ok, gf.roundAt(sf.sqrt(chi2 / (n * minDim)), 6)).as("cramers_v"),
        sf.when(ok, gf.roundAt(sf.sqrt(chi2 / n), 6)).as("phi"),
        sf.when(ok, gf.roundAt(sf.sqrt(chi2 / (chi2 + n)), 6)).as("contingency_c"),
        sf.when(ok, gf.roundAt(sf.sqrt(chi2 / (n * geoDim)), 6)).as("tschuprow_t"))
    }: _*)
  }

  /** Kendall's τ-b (Kendall 1938; tie correction Kendall 1945) between
    * two DISCRETE/bucketed columns — the rank correlation that reads
    * on concordance probability (τ = P(concordant) − P(discordant)),
    * robust where [[spearman]]'s rank-ρ inflates under heavy ties and
    * the natural choice for ordinal×ordinal association (quality tier
    * vs review grade, bucket vs bucket). Caller buckets continuous
    * inputs first — that is the CONTRACT that makes the exact O(n²)
    * pair statistic computable at 100 TB: all pair counting happens on
    * the (x, y) CELL DOMAIN (D_x·D_y cells, data-size-independent),
    * never on rows.
    *
    * nc/nd = Σ n₁n₂ over concordant/discordant cell pairs; ties enter
    * via the margin formulas n₁ = Σ tₓ(tₓ−1)/2, n₂ = Σ t_y(t_y−1)/2;
    * τ-b = (nc − nd)/√((n₀−n₁)(n₀−n₂)). Every count accumulates as
    * DECIMAL(38,0) (cell products square the corpus), the finish is
    * ONE pinned sqrt division rounded 1e-6; a constant margin (all x
    * equal) yields NULL.
    *
    * Scale shape: one map-side-combined (x, y) cell count, then the
    * cell table self-pairs via a BROADCAST cross join filtered to the
    * lexicographic upper triangle — domain², bounded by the bucketing
    * contract, independent of row count; margins are two more
    * domain-sized rollups. No sort, no window, no row-level shuffle
    * beyond the cell collapse. */
  def kendallTau(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // concordance compares cells with <, so the bucket types must carry
    // the intended order: string-typed ordinals would compare
    // lexicographically ('10' < '2') and silently corrupt nc/nd (r9
    // ADVICE) — require numeric/date/timestamp and fail actionably
    Seq(xCol, yCol).foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampType,
        s"kendallTau: column '$c' has type ${dt.simpleString}; ordinal " +
        "buckets must be numeric (or date/timestamp) so '<' is the " +
        "intended order — map string buckets to integer codes first")
    }
    val cells = df.filter(sf.col(xCol).isNotNull && sf.col(yCol).isNotNull)
      .groupBy(sf.col(xCol).as("x"), sf.col(yCol).as("y"))
      .agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // pair join (both sides) + margins read it
    val pairs = cells.crossJoin(sf.broadcast(
        cells.select(sf.col("x").as("x2"), sf.col("y").as("y2"), sf.col("c").as("c2"))))
      .filter(sf.col("x") < sf.col("x2") ||
        (sf.col("x") === sf.col("x2") && sf.col("y") < sf.col("y2")))
    val prod = dec(sf.col("c")) * dec(sf.col("c2"))
    val zero = sf.lit(0).cast("decimal(38,0)")
    val cd = pairs.agg(
      sf.sum(sf.when(sf.col("x") < sf.col("x2") && sf.col("y") < sf.col("y2"), prod)
        .otherwise(zero)).as("__nc"),
      sf.sum(sf.when(sf.col("x") < sf.col("x2") && sf.col("y") > sf.col("y2"), prod)
        .otherwise(zero)).as("__nd"))
    def tiePairs(c: String) = cells.groupBy(c)
      .agg(sf.sum("c").cast("long").as("__t"))
      .agg(sf.sum(dec(sf.col("__t")) * dec(sf.col("__t") - 1)).as(s"__t2_$c"))
    val tot = cells.agg(sf.sum("c").cast("long").as("n"),
      sf.count(sf.lit(1)).as("n_cells"))
    tot.crossJoin(sf.broadcast(cd))
      .crossJoin(sf.broadcast(tiePairs("x"))).crossJoin(sf.broadcast(tiePairs("y")))
      .select({
        val nD = sf.col("n").cast("double")
        val n0 = nD * (nD - 1.0) / 2.0
        // tie sums carried 2-scaled (t(t-1), not t(t-1)/2) — halve here
        val d1 = n0 - sf.col("__t2_x").cast("double") / 2.0
        val d2 = n0 - sf.col("__t2_y").cast("double") / 2.0
        Seq(sf.col("n"), sf.col("n_cells"),
          sf.col("__nc").cast("long").as("concordant"),
          sf.col("__nd").cast("long").as("discordant"),
          sf.when(d1 > 0.0 && d2 > 0.0, gf.roundAt(
            (sf.col("__nc").cast("double") - sf.col("__nd").cast("double")) /
              sf.sqrt(d1 * d2), 6)).as("tau_b"))
      }: _*)
  }

  /** Ordinal-association datasheet — Goodman–Kruskal γ (1954), Somers'
    * D in BOTH directions (Somers 1962), and Stuart's τ-c (1953) from
    * ONE pass of [[kendallTau]]'s concordance cell machinery: the four
    * measures answer four different questions about the same pair
    * counts (γ ignores all ties — the optimist; D(y|x) penalizes only
    * y-ties — the "does x PREDICT y" scorer, the binary-y special case
    * being the Gini/AR every credit scorecard reports as 2·AUC−1; τ-c
    * rescales for non-square grids), and a pipeline comparing ordinal
    * gates (quality tier vs review grade) should read them together —
    * γ ≫ τ-b flags tie-inflation, D(y|x) ≠ D(x|y) flags asymmetric
    * dependence.
    *
    * Inherits [[kendallTau]]'s CONTRACT (caller buckets; numeric
    * ordinals only — the '10' < '2' guard) and its exact arithmetic:
    * nc/nd and the tie margins are DECIMAL(38,0) on the cell domain,
    * each measure is ONE pinned double assembly rounded 1e-6 (γ NULL
    * when nc+nd = 0, D NULL on a constant conditioning margin, τ-c
    * NULL when either domain is a single bucket).
    *
    * Scale shape: [[kendallTau]]'s — one (x, y) cell collapse, a
    * BROADCAST upper-triangle cell pairing (domain², bounded by the
    * bucketing contract), two margin rollups. Zero row-level work past
    * the collapse. */
  def ordinalAssociation(df: DataFrame, xCol: String,
                         yCol: String): DataFrame = {
    Seq(xCol, yCol).foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampType,
        s"ordinalAssociation: column '$c' has type ${dt.simpleString}; " +
        "ordinal buckets must be numeric (or date/timestamp) so '<' is " +
        "the intended order — map string buckets to integer codes first")
    }
    val cells = df.filter(sf.col(xCol).isNotNull && sf.col(yCol).isNotNull)
      .groupBy(sf.col(xCol).as("x"), sf.col(yCol).as("y"))
      .agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // pair join (both sides) + margins read it
    val pairs = cells.crossJoin(sf.broadcast(
        cells.select(sf.col("x").as("x2"), sf.col("y").as("y2"), sf.col("c").as("c2"))))
      .filter(sf.col("x") < sf.col("x2") ||
        (sf.col("x") === sf.col("x2") && sf.col("y") < sf.col("y2")))
    val prod = dec(sf.col("c")) * dec(sf.col("c2"))
    val zero = sf.lit(0).cast("decimal(38,0)")
    val cd = pairs.agg(
      sf.sum(sf.when(sf.col("x") < sf.col("x2") && sf.col("y") < sf.col("y2"), prod)
        .otherwise(zero)).as("__nc"),
      sf.sum(sf.when(sf.col("x") < sf.col("x2") && sf.col("y") > sf.col("y2"), prod)
        .otherwise(zero)).as("__nd"))
    def margin(c: String) = cells.groupBy(c)
      .agg(sf.sum("c").cast("long").as("__t"))
      .agg(sf.count(sf.lit(1)).as(s"__d_$c"),
        sf.sum(dec(sf.col("__t")) * dec(sf.col("__t") - 1)).as(s"__t2_$c"))
    val tot = cells.agg(sf.sum("c").cast("long").as("n"),
      sf.count(sf.lit(1)).as("n_cells"))
    tot.crossJoin(sf.broadcast(cd))
      .crossJoin(sf.broadcast(margin("x"))).crossJoin(sf.broadcast(margin("y")))
      .select({
        val nD = sf.col("n").cast("double")
        val n0 = nD * (nD - 1.0) / 2.0
        val ncd = sf.col("__nc").cast("double") - sf.col("__nd").cast("double")
        val sumcd = sf.col("__nc").cast("double") + sf.col("__nd").cast("double")
        // tie sums carried 2-scaled (t(t-1), not t(t-1)/2) — halve here
        val dX = n0 - sf.col("__t2_x").cast("double") / 2.0
        val dY = n0 - sf.col("__t2_y").cast("double") / 2.0
        val m = sf.least(sf.col("__d_x"), sf.col("__d_y")).cast("double")
        Seq(sf.col("n"), sf.col("n_cells"),
          sf.col("__nc").cast("long").as("concordant"),
          sf.col("__nd").cast("long").as("discordant"),
          sf.when(sumcd > 0.0, gf.roundAt(ncd / sumcd, 6)).as("gamma"),
          sf.when(dX > 0.0, gf.roundAt(ncd / dX, 6)).as("somers_d_yx"),
          sf.when(dY > 0.0, gf.roundAt(ncd / dY, 6)).as("somers_d_xy"),
          sf.when(m > 1.0, gf.roundAt(
            ncd * 2.0 * m / (nD * nD * (m - 1.0)), 6)).as("tau_c"))
      }: _*)
  }

  /** Cochran's Q test (Cochran 1950) over k ≥ 2 BINARY flag columns
    * per subject — "do these k related binary treatments have the
    * same success rate on the same subjects": the k-treatment
    * generalization of the paired two-detector McNemar reading and
    * the gate to run before trusting that k filter variants (three
    * PII detectors, three gate thresholds) are interchangeable.
    * Subjects with any NULL flag drop (complete-case, the
    * [[fleissKappa]] convention).
    *
    *   Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²)
    *
    * with C_j the column totals, R_i the per-subject row sums, N the
    * grand total — Q ~ χ²(k−1) under exchangeability. Every term is
    * an EXACT integer (row sums ≤ k so ΣR_i² fits longs; column
    * squares accumulate as DECIMAL(38,0)); Q is ONE pinned double
    * division rounded 1e-6. A zero denominator (every subject all-0
    * or all-1 across the k flags) yields NULL.
    *
    * Scale shape: ONE map-side-combinable aggregation over the
    * subject stream (k + 3 cells per map task) + a one-row finish.
    * Zero joins, zero windows, zero shuffled rows beyond the
    * single-row agg. */
  def cochranQ(df: DataFrame, flagCols: Seq[String]): DataFrame = {
    require(flagCols.size >= 2,
      s"cochranQ needs >= 2 flag columns, got ${flagCols.size}")
    val k = flagCols.size
    val flags = flagCols.map(c => sf.col(c).cast("boolean").cast("int"))
    val base = df.filter(flagCols.map(c => sf.col(c).isNotNull).reduce(_ && _))
    val r = flags.reduce(_ + _)
    val agg = base.select(flags.zipWithIndex.map { case (f, i) =>
        f.cast("long").as(s"__f$i")
      } :+ r.cast("long").as("__r"): _*)
      .agg(sf.count(sf.lit(1)).as("n_subjects"),
        sf.sum("__r").cast("long").as("__nn"),
        sf.sum(sf.col("__r") * sf.col("__r")).cast("long").as("__r2"),
        sf.expr((0 until k).map(i => s"CAST(sum(__f$i) AS DECIMAL(38,0)) * " +
          s"CAST(sum(__f$i) AS DECIMAL(38,0))").mkString("(", ") + (", ")"))
          .as("__c2"))
    agg.select({
      val nn = sf.col("__nn").cast("double")
      val numer = sf.lit((k - 1).toDouble) *
        (sf.lit(k.toDouble) * sf.col("__c2").cast("double") - nn * nn)
      val denom = sf.lit(k.toDouble) * nn - sf.col("__r2").cast("double")
      Seq(sf.col("n_subjects"), sf.lit(k).as("k"),
        sf.col("__nn").as("n_successes"),
        sf.when(denom > 0.0, gf.roundAt(numer / denom, 6)).as("q_stat"))
    }: _*)
  }

  /** Friedman rank test (Friedman 1937) — "does TREATMENT shift the
    * measure, controlling for BLOCK": per complete block (all k
    * treatments present), the per-(block, treatment) mean measure is
    * ranked WITHIN the block (ties → average ranks), and
    * χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1) reads on whether the rank
    * sums R_j differ — the nonparametric twin of the two-way layout
    * that a one-way [[anovaF]] can't see: a treatment effect masked by
    * block-to-block level shifts. Incomplete blocks drop (the
    * classical requirement).
    *
    * Determinism: cell means snap to the 1e-4 grid from exact integer
    * (Σv4, count) cells via floor(s4/c + 0.5) (IEEE division,
    * identical everywhere); average ranks are exact HALF-integers
    * carried 2-SCALED (ar2 = 2·rank + ties − 1, an integer), so rank
    * sums are exact longs, ΣR2_j² accumulates as DECIMAL(38,0), and
    * the statistic (2-scaled algebra: χ²_F = 3·ΣR2_j²/(nk(k+1)) −
    * 3n(k+1)) is ONE pinned double assembly rounded 1e-6. Zero
    * complete blocks or k < 2 yields NULL.
    *
    * Scale shape: one map-side-combined (block, treatment) collapse
    * (domain-compressed — the 100 TB row stream reduces to the cell
    * grid), a completeness semi join, one window over the BLOCK
    * partition (bounded at k rows per block BY CONSTRUCTION — never a
    * data-sized window), and a k-row rollup. */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
               valueCol: String): DataFrame = {
    val cells = df.filter(sf.col(blockCol).isNotNull &&
        sf.col(treatCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(blockCol).as("b"), sf.col(treatCol).as("tr"),
        sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long").as("v4"))
      .groupBy("b", "tr").agg(sf.sum("v4").as("s4"), sf.count(sf.lit(1)).as("c"))
      .select(sf.col("b"), sf.col("tr"),
        sf.floor(sf.col("s4").cast("double") / sf.col("c").cast("double") + 0.5)
          .cast("long").as("m4"))
      .localCheckpoint(true) // k scalar + completeness + ranks read it
    val kRow = cells.agg(sf.countDistinct("tr").as("k"))
    val complete = cells.groupBy("b").agg(sf.count(sf.lit(1)).as("__nt"))
      .crossJoin(sf.broadcast(kRow))
      .filter(sf.col("__nt") === sf.col("k")).select("b")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("b")
    val ranked = cells.join(complete, Seq("b"), "left_semi")
      .withColumn("__rk", sf.rank().over(w.orderBy("m4")))
      .withColumn("__ties",
        sf.count(sf.lit(1)).over(w.orderBy("m4").rangeBetween(0, 0)))
      .select(sf.col("tr"),
        (sf.lit(2L) * sf.col("__rk") + sf.col("__ties") - 1L).as("__ar2"))
    val rj = ranked.groupBy("tr").agg(sf.sum("__ar2").cast("long").as("__r2j"))
    val nB = complete.agg(sf.count(sf.lit(1)).as("n_blocks"))
    rj.agg(sf.sum(dec(sf.col("__r2j")) * dec(sf.col("__r2j"))).as("__sr2"))
      .crossJoin(sf.broadcast(nB)).crossJoin(sf.broadcast(kRow))
      .select({
        val n = sf.col("n_blocks").cast("double")
        val kD = sf.col("k").cast("double")
        val chi = sf.lit(3.0) * sf.col("__sr2").cast("double") /
          (n * kD * (kD + 1.0)) - sf.lit(3.0) * n * (kD + 1.0)
        Seq(sf.col("n_blocks"), sf.col("k"),
          sf.when(sf.col("n_blocks") > 0 && sf.col("k") >= 2,
            gf.roundAt(chi, 6)).as("chi2_f"))
      }: _*)
  }

  /** Page's L trend test (Page 1963) — the ORDERED-alternative member
    * of the blocked-rank family: [[friedman]] spends k−1 df noticing
    * ANY treatment difference; Page spends 1 df on the hypothesis "the
    * measure increases WITH the treatment order" (L = Σ_j c_j·R_j over
    * within-block ranks R and hypothesized order positions c_j = 1..k)
    * and wins power exactly when the suspicion is monotone — the
    * repeated-measures sibling of [[jonckheereTerpstra]] (independent
    * groups) the way [[friedman]] is of [[kruskalWallis]]. Reads on
    * "does latency creep across release stages, controlling for which
    * user you measure".
    *
    * Contract: treatments are the order codes themselves — INTEGRAL,
    * caller-ordered ascending (the [[cochranArmitage]] guard: string
    * ordinals would sort lexicographically and fractional codes floor-
    * truncate, both silently corrupting the hypothesized order).
    * Incomplete blocks drop ([[friedman]]'s classical requirement).
    *
    * Determinism: [[friedman]]'s exact 1e-4 cell means and 2-SCALED
    * midranks verbatim, order positions from an exact k×k domain
    * count-le self-join (never a global window); L carries 2-scaled as
    * the exact long Σc_j·R2_j, so l_stat = L2/2 is exact; z uses the
    * classical no-ties null moments μ = nk(k+1)²/4, σ² =
    * nk²(k+1)²(k−1)/144 in ONE pinned assembly rounded 1e-6 (with
    * midranked ties the moments are the standard large-sample
    * approximation — heavy ties read conservative). k < 3 or zero
    * complete blocks yields NULL z.
    *
    * Scale shape: the [[friedman]] domain-compressed collapse +
    * completeness semi join + bounded per-block windows (k rows by
    * construction) + a k-row order attach + one k-row rollup. */
  def pageTrend(df: DataFrame, blockCol: String, treatCol: String,
                valueCol: String): DataFrame = {
    val dt = df.schema(treatCol).dataType
    val integral = dt match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(integral,
      s"pageTrend: column '$treatCol' has type ${dt.simpleString}; " +
      "ordered treatment codes must be INTEGER — map stages to integer " +
      "codes first")
    val cells = df.filter(sf.col(blockCol).isNotNull &&
        sf.col(treatCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(blockCol).as("b"), sf.col(treatCol).cast("long").as("tr"),
        sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long").as("v4"))
      .groupBy("b", "tr").agg(sf.sum("v4").as("s4"), sf.count(sf.lit(1)).as("c"))
      .select(sf.col("b"), sf.col("tr"),
        sf.floor(sf.col("s4").cast("double") / sf.col("c").cast("double") + 0.5)
          .cast("long").as("m4"))
      .localCheckpoint(true) // k scalar + completeness + ranks read it
    val kRow = cells.agg(sf.countDistinct("tr").as("k"))
    val complete = cells.groupBy("b").agg(sf.count(sf.lit(1)).as("__nt"))
      .crossJoin(sf.broadcast(kRow))
      .filter(sf.col("__nt") === sf.col("k")).select("b")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("b")
    val ranked = cells.join(complete, Seq("b"), "left_semi")
      .withColumn("__rk", sf.rank().over(w.orderBy("m4")))
      .withColumn("__ties",
        sf.count(sf.lit(1)).over(w.orderBy("m4").rangeBetween(0, 0)))
      .select(sf.col("tr"),
        (sf.lit(2L) * sf.col("__rk") + sf.col("__ties") - 1L).as("__ar2"))
    val rj = ranked.groupBy("tr").agg(sf.sum("__ar2").cast("long").as("__r2j"))
    // hypothesized order position c_j = |{tr' <= tr_j}| — an exact k×k
    // domain self-join, never a constant-key window over the domain
    val trs = cells.select("tr").distinct()
    val cj = trs.join(trs.select(sf.col("tr").as("__t2")),
        sf.col("__t2") <= sf.col("tr"))
      .groupBy("tr").agg(sf.count(sf.lit(1)).as("__cj"))
    val nB = complete.agg(sf.count(sf.lit(1)).as("n_blocks"))
    rj.join(cj, "tr")
      .agg(sf.sum(dec(sf.col("__cj")) * dec(sf.col("__r2j"))).as("__l2"))
      .crossJoin(sf.broadcast(nB)).crossJoin(sf.broadcast(kRow))
      .select({
        val n = sf.col("n_blocks").cast("double")
        val kD = sf.col("k").cast("double")
        val l = sf.col("__l2").cast("double") / 2.0
        val mu = n * kD * (kD + 1.0) * (kD + 1.0) / 4.0
        val sig = sf.sqrt(n * kD * kD * (kD + 1.0) * (kD + 1.0) * (kD - 1.0) / 144.0)
        Seq(sf.col("n_blocks"), sf.col("k"), gf.roundAt(l, 4).as("l_stat"),
          sf.when(sf.col("n_blocks") > 0 && sf.col("k") >= 3,
            gf.roundAt((l - mu) / sig, 6)).as("z_trend"))
      }: _*)
  }

  /** Quade test (Quade 1979) — the blocked rank test that WEIGHTS
    * blocks by how much signal they carry: [[friedman]] gives a block
    * whose k cells differ by noise the same vote as one with a huge
    * spread; Quade ranks blocks by their RANGE and multiplies each
    * within-block rank deviation by that block rank,
    * S_ij = Q_j·(r_ij − (k+1)/2), F = (n−1)·B/(A−B) with A = ΣS²,
    * B = ΣS_i²/n ~ F(k−1, (n−1)(k−1)) — more powerful than Friedman
    * at small k (the usual recommendation at k ≤ 5), which is exactly
    * the shape of a 3-5-variant gate comparison.
    *
    * Determinism: [[friedman]]'s exact 1e-4 cell means and 2-scaled
    * within-block midranks verbatim; block ranges are exact grid
    * integers and their midranks come 2-scaled from the RANGE-domain
    * prefix (the [[spearman]] machinery — never a data-sized global
    * window); S carries 4-SCALED as the exact integer
    * Q₂(r₂ − (k+1)), every sum DECIMAL(38,0), F one pinned assembly
    * rounded 1e-4. Perfect agreement (A = B) or degenerate designs
    * yield NULL.
    *
    * Scale shape: the [[friedman]] collapse + bounded per-block
    * windows + one range-domain prefix + an AQE-decided block-rank
    * attach + two combinable rollups. */
  def quadeTest(df: DataFrame, blockCol: String, treatCol: String,
                valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.filter(sf.col(blockCol).isNotNull &&
        sf.col(treatCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(blockCol).as("b"), sf.col(treatCol).as("tr"),
        sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long").as("v4"))
      .groupBy("b", "tr").agg(sf.sum("v4").as("s4"), sf.count(sf.lit(1)).as("c"))
      .select(sf.col("b"), sf.col("tr"),
        sf.floor(sf.col("s4").cast("double") / sf.col("c").cast("double") + 0.5)
          .cast("long").as("m4"))
      .localCheckpoint(true) // k scalar + completeness + ranks read it
    val kRow = cells.agg(sf.countDistinct("tr").as("k"))
    val complete = cells.groupBy("b").agg(sf.count(sf.lit(1)).as("__nt"))
      .crossJoin(sf.broadcast(kRow))
      .filter(sf.col("__nt") === sf.col("k")).select("b")
    val cc = cells.join(complete, Seq("b"), "left_semi")
      .localCheckpoint(true) // ranks + block ranges read it
    val w = Window.partitionBy("b")
    val ranked = cc
      .withColumn("__rk", sf.rank().over(w.orderBy("m4")))
      .withColumn("__ties",
        sf.count(sf.lit(1)).over(w.orderBy("m4").rangeBetween(0, 0)))
      .select(sf.col("b"), sf.col("tr"),
        (sf.lit(2L) * sf.col("__rk") + sf.col("__ties") - 1L).as("__r2"))
    val rng = cc.groupBy("b")
      .agg((sf.max("m4") - sf.min("m4")).as("__rng"))
      .localCheckpoint(true) // range domain + block-rank attach read it
    val wv = Window.partitionBy(sf.pmod(sf.hash(sf.col("__rng")), sf.lit(1)))
      .orderBy("__rng").rowsBetween(Window.unboundedPreceding, -1)
    val rmid = rng.groupBy("__rng").agg(sf.count(sf.lit(1)).as("__c"))
      .withColumn("__pre", sf.coalesce(sf.sum("__c").over(wv), sf.lit(0L)))
      .select(sf.col("__rng"), (sf.col("__pre") * 2 + sf.col("__c") + 1).as("__q2"))
    val s = ranked.join(rng.join(rmid, "__rng").select("b", "__q2"), "b")
      .crossJoin(sf.broadcast(kRow))
      .select(sf.col("tr"),
        (dec(sf.col("__q2")) * dec(sf.col("__r2") - (sf.col("k") + 1))).as("__s4"))
      .localCheckpoint(true) // A sum + treatment sums read it
    val aRow = s.agg(sf.sum(sf.col("__s4") * sf.col("__s4")).as("__a16"))
    val bRow = s.groupBy("tr").agg(sf.sum("__s4").as("__si"))
      .agg(sf.sum(sf.col("__si") * sf.col("__si")).as("__b16s"))
    val nB = complete.agg(sf.count(sf.lit(1)).as("n_blocks"))
    aRow.crossJoin(sf.broadcast(bRow)).crossJoin(sf.broadcast(nB))
      .crossJoin(sf.broadcast(kRow))
      .select({
        val n = sf.col("n_blocks").cast("double")
        val kD = sf.col("k").cast("double")
        val aT = sf.col("__a16").cast("double") / 16
        val bT = sf.col("__b16s").cast("double") / 16 / n
        val f = (n - 1) * bT / (aT - bT)
        val ok = sf.col("n_blocks") > 1 && sf.col("k") >= 2 && (aT - bT) > 0.0
        Seq(sf.col("n_blocks"), sf.col("k"),
          sf.when(ok, gf.roundAt(f, 4)).as("f_quade"),
          (sf.col("k") - 1).as("df1"),
          ((sf.col("n_blocks") - 1) * (sf.col("k") - 1)).as("df2"))
      }: _*)
  }

  /** Wilcoxon signed-rank test (Wilcoxon 1945) on PAIRED per-subject
    * condition means — the matched-samples member the two-sample
    * ladder was missing: [[mannWhitneyU]] compares two independent
    * groups, but "did THE SAME user's click value exceed their view
    * value" pairs each subject with itself, cancelling between-subject
    * spread entirely — the rank-scale twin of a paired t, robust where
    * the paired t's mean difference is one outlier's hostage.
    *
    * Contract: long-format (subject, condition, value) rows; each
    * subject's per-condition values collapse to the exact 1e-4 cell
    * mean (the [[friedman]] cell convention), only subjects holding
    * BOTH conditions pair, and zero differences drop with their count
    * reported (the classical Wilcoxon zero-handling).
    *
    * Determinism: cell means are exact grid integers so d₄ = mA₄ − mB₄
    * is an exact long; |d| midranks come 2-SCALED from the |d|-DOMAIN
    * prefix (the [[mannWhitneyU]] machinery — never a data-sized
    * window), W⁺ accumulates as the exact DECIMAL(38,0) Σc⁺·(2·cum +
    * t + 1), ties Σ(t³−t) likewise; z = (W − n(n+1)/4)/√(n(n+1)(2n+1)/24
    * − Σ(t³−t)/48) is ONE pinned assembly rounded 1e-6. No nonzero
    * pairs or zero variance yields NULL z.
    *
    * Scale shape: one map-side-combined (subject, condition) collapse
    * (domain-compressed), one subject-keyed pair join (AQE-decided),
    * one |d|-domain cumulative window (bounded by distinct |d| values,
    * never pair count), a single-row finish. */
  def wilcoxonSignedRank(df: DataFrame, subjectCol: String, condCol: String,
                         valueCol: String, condA: String, condB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.filter(sf.col(subjectCol).isNotNull &&
        sf.col(condCol).isNotNull && sf.col(valueCol).isNotNull &&
        sf.col(condCol).cast("string").isin(condA, condB))
      .select(sf.col(subjectCol).as("s"), sf.col(condCol).cast("string").as("cond"),
        sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long").as("v4"))
      .groupBy("s", "cond").agg(sf.sum("v4").as("s4"), sf.count(sf.lit(1)).as("c"))
      .select(sf.col("s"), sf.col("cond"),
        sf.floor(sf.col("s4").cast("double") / sf.col("c").cast("double") + 0.5)
          .cast("long").as("m4"))
    val pairs = cells.filter(sf.col("cond") === condA)
      .select(sf.col("s"), sf.col("m4").as("__ma"))
      .join(cells.filter(sf.col("cond") === condB)
        .select(sf.col("s"), sf.col("m4").as("__mb")), "s")
      .select((sf.col("__ma") - sf.col("__mb")).as("__d4"))
      .localCheckpoint(true) // zero count + the |d| domain read it
    val zeros = pairs.agg(
      sf.sum(sf.when(sf.col("__d4") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val dom = pairs.filter(sf.col("__d4") =!= 0L)
      .groupBy(sf.abs(sf.col("__d4")).as("__av"))
      .agg(sf.count(sf.lit(1)).as("__ct"),
        sf.sum(sf.when(sf.col("__d4") > 0L, 1L).otherwise(0L)).as("__cp"))
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("__av")), sf.lit(1)))
      .orderBy("__av").rowsBetween(Window.unboundedPreceding, -1)
    val cumBefore = sf.coalesce(sf.sum("__ct").over(w), sf.lit(0L))
    dom
      .withColumn("__w2", dec(sf.col("__cp")) *
        dec(cumBefore * 2 + sf.col("__ct") + 1))
      .withColumn("__tie", dec(sf.col("__ct")) * dec(sf.col("__ct")) *
        dec(sf.col("__ct")) - dec(sf.col("__ct")))
      .agg(sf.sum("__w2").as("__w2s"), sf.sum("__tie").as("__ties"),
        sf.sum("__ct").as("__n"))
      .crossJoin(sf.broadcast(zeros))
      .select({
        val n = sf.col("__n").cast("double")
        val wPlus = sf.col("__w2s").cast("double") / 2
        val mu = n * (n + 1) / 4
        val sigma = sf.sqrt(n * (n + 1) * (n * 2 + 1) / 24 -
          sf.col("__ties").cast("double") / 48)
        Seq(sf.coalesce(sf.col("__n"), sf.lit(0L)).cast("long").as("n_pairs"),
          sf.coalesce(sf.col("n_zero"), sf.lit(0L)).cast("long").as("n_zero"),
          gf.roundAt(wPlus, 4).as("w_plus"),
          sf.when(sf.col("__n") > 0 && sigma > 0,
            gf.roundAt((wPlus - mu) / sigma, 6)).as("z"))
      }: _*)
  }

  /** Bartlett's test of variance homogeneity (Bartlett 1937) — the
    * SCALE-axis sibling of [[anovaF]]'s location test and the
    * parametric counterpart of the Brown–Forsythe ([[brownForsythe]])
    * median-center check: pooled-vs-per-group log-variance contrast
    * T = [(N−k)·ln s²_p − Σ(nᵢ−1)·ln s²ᵢ]/C ~ χ²(k−1). More powerful
    * than Levene under near-normality, famously fragile otherwise —
    * datasheets carry both and route on their disagreement.
    *
    * Determinism: values on the exact 1e-4 grid; per-group
    * nᵢ·Σv² − (Σv)² is an exact DECIMAL(38,0) integer; each group's
    * (nᵢ−1)s²ᵢ = (nᵢΣv²−S²)/nᵢ and ln s²ᵢ snap to 1e-9-scaled longs
    * BEFORE summing (floating sums of raw doubles would be
    * partition-order-dependent), as does Σ1/(nᵢ−1); the T/C assembly
    * is ONE pinned double chain rounded 1e-6. Groups with nᵢ < 2 drop;
    * any zero-variance group (ln 0 undefined) yields NULL T.
    *
    * Scale shape: one map-side-combined group collapse to (n, Σv, Σv²)
    * and a k-row rollup — two exchanges total, nothing data-sized
    * past the first combine. */
  def bartlettTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val stats = df.filter(sf.col(groupCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(groupCol).cast("string").as("g"), v4.as("v"))
      .groupBy("g").agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("v"))).as("s"),
        sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("q"))
      .filter(sf.col("n") >= 2L)
      .withColumn("__num", dec(sf.col("n")) * sf.col("q") - sf.col("s") * sf.col("s"))
    val perGroup = stats.select(
      sf.col("n"), sf.col("__num"),
      // (n-1)*s2_i in v4^2 units, snapped to an integer before summing
      sf.floor(sf.col("__num").cast("double") / sf.col("n").cast("double") + 0.5)
        .cast("long").as("__pool"),
      // ln(s2_i) in value^2 units, 1e-9-scaled
      sf.when(sf.col("__num") > 0, sf.floor(sf.log(
          sf.col("__num").cast("double") /
          (sf.col("n").cast("double") * (sf.col("n").cast("double") - 1)) / 1e8)
        * 1e9 + 0.5).cast("long")).as("__ln9"),
      sf.floor(sf.lit(1e9) / (sf.col("n").cast("double") - 1) + 0.5)
        .cast("long").as("__inv9"))
    perGroup.agg(
        sf.count(sf.lit(1)).as("k"), sf.sum("n").cast("long").as("n_total"),
        sf.sum(dec(sf.col("__pool"))).as("__poolS"),
        sf.sum(dec(sf.col("n") - 1) * dec(sf.col("__ln9"))).as("__lnS"),
        sf.sum(dec(sf.col("__inv9"))).as("__invS"),
        sf.max((sf.col("__num") === 0).cast("int")).as("__anyZero"))
      .select({
        val k = sf.col("k").cast("double")
        val nT = sf.col("n_total").cast("double")
        val sp2 = sf.col("__poolS").cast("double") / (nT - k) / 1e8
        val t0 = (nT - k) * sf.log(sp2) - sf.col("__lnS").cast("double") / 1e9
        val c = sf.lit(1.0) + (sf.col("__invS").cast("double") / 1e9 -
          sf.lit(1.0) / (nT - k)) / ((k - 1) * 3)
        val ok = sf.col("k") >= 2 && sf.col("__anyZero") === 0
        Seq(sf.col("k"), sf.col("n_total"),
          sf.when(ok, gf.roundAt(t0 / c, 6)).as("chi2_bartlett"),
          (sf.col("k") - 1).as("df"))
      }: _*)
  }

  /** Kuiper two-sample test (Kuiper 1960) — the CYCLIC-sensitive
    * member of the ECDF ladder: [[ksTest]]'s D = sup|F_A−F_B| is
    * blind to a distribution that's shifted UP in one region and DOWN
    * in another by equal sups; Kuiper's V = D⁺ + D⁻ adds the two
    * one-sided sups so symmetric-opposite deviations accumulate
    * instead of cancel — and V is invariant under cyclic shifts,
    * the standard choice for hour-of-day / phase-like comparisons.
    *
    * Determinism: the [[ksTest]] integer machinery verbatim —
    * cross-multiplied integer gaps
    * cumA·n_B − cumB·n_A so D⁺ and D⁻ are exact integer maxima (both
    * ≥ 0: the final domain row has cumA·n_B = cumB·n_A); V and
    * Stephens' (√n_e + 0.155 + 0.24/√n_e)·V standardization
    * (Stephens 1970, n_e = n_A·n_B/(n_A+n_B)) are pinned assemblies
    * rounded 1e-6/1e-4. An empty side gives n = 0 and NULL statistics.
    *
    * Scale shape: the [[valueDomain]] collapse, one domain-bounded
    * cumulative window (constant key, the [[ksTest]] window), a
    * single-row finish. */
  def kuiperTest(dfA: DataFrame, dfB: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = valueDomain(dfA, dfB, sf.col(valueCol).cast("double"))
      .localCheckpoint(true) // read by the window and the totals
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("__v")), sf.lit(1)))
      .orderBy("__v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = merged.agg(sf.sum("__ca").as("__na"), sf.sum("__cb").as("__nb"))
    merged
      // one select: window columns added by separate withColumns each get
      // their own extracted partition key, so each would re-sort the domain
      .select(sf.col("*"),
        sf.sum("__ca").over(w).as("__cuma"), sf.sum("__cb").over(w).as("__cumb"))
      .crossJoin(sf.broadcast(totals))
      .withColumn("__gap",
        sf.col("__cuma") * sf.col("__nb") - sf.col("__cumb") * sf.col("__na"))
      .agg(sf.max("__gap").as("__dp"), sf.max(-sf.col("__gap")).as("__dm"),
        sf.max("__na").as("__na"), sf.max("__nb").as("__nb"))
      .select({
        val na = sf.col("__na").cast("double")
        val nb = sf.col("__nb").cast("double")
        val v = (sf.greatest(sf.col("__dp"), sf.lit(0L)) +
          sf.greatest(sf.col("__dm"), sf.lit(0L))).cast("double") / (na * nb)
        val ne = na * nb / (na + nb)
        val ok = sf.col("__na") > 0 && sf.col("__nb") > 0
        Seq(sf.coalesce(sf.col("__na"), sf.lit(0L)).as("n_a"),
          sf.coalesce(sf.col("__nb"), sf.lit(0L)).as("n_b"),
          sf.when(ok, gf.roundAt(v, 6)).as("v_stat"),
          sf.when(ok, gf.roundAt(
            (sf.sqrt(ne) + 0.155 + sf.lit(0.24) / sf.sqrt(ne)) * v, 4))
            .as("lambda_stat"))
      }: _*)
  }

  /** Tukey HSD pairwise panel (Tukey 1949) — the POST-HOC step
    * [[anovaF]] leaves open: the F says "SOME group differs", this
    * says WHICH, as the full pairwise panel of studentized-range
    * statistics q_ij = |m̄ᵢ − m̄ⱼ|/√(MSE/2·(1/nᵢ + 1/nⱼ)) (the
    * Tukey–Kramer unequal-n form) on the one shared error term —
    * honest simultaneous comparisons where k(k−1)/2 separate t tests
    * would inflate the family error.
    *
    * Determinism: values on the exact 1e-4 grid; per-group (n, Σv,
    * Σv²) exact DECIMAL(38,0); each group's SSW snaps to an integer
    * in v4² units before the pooled sum (partition-order-proof); the
    * mean difference comes cross-multiplied (Sᵢnⱼ − Sⱼnᵢ exact) and
    * q is ONE pinned assembly — mean_diff 1e-6, q_stat 1e-4. MSE = 0
    * or n_total ≤ k yields NULL q. The statistic panel is the
    * deliverable; critical q values live in the studentized-range
    * table the caller applies.
    *
    * Scale shape: one map-side-combined group collapse, a broadcast
    * k-row MSE attach, and a k×k GROUP-DOMAIN self-join (never
    * data-sized) with total output order. */
  def tukeyHsd(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val stats = df.filter(sf.col(groupCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(groupCol).cast("string").as("g"), v4.as("v"))
      .groupBy("g").agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("v"))).as("s"),
        sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("q"))
      .withColumn("__ssw", sf.floor(
        (dec(sf.col("n")) * sf.col("q") - sf.col("s") * sf.col("s")).cast("double")
          / sf.col("n").cast("double") + 0.5).cast("long"))
      .localCheckpoint(true) // MSE rollup + both self-join sides read it
    val mseRow = stats.agg(sf.sum(dec(sf.col("__ssw"))).as("__sswS"),
      sf.sum("n").cast("long").as("__nT"), sf.count(sf.lit(1)).as("__k"))
    val a = stats.select(sf.col("g").as("g_a"), sf.col("n").as("n_a"),
      sf.col("s").as("__sa"))
    val b = stats.select(sf.col("g").as("g_b"), sf.col("n").as("n_b"),
      sf.col("s").as("__sb"))
    a.join(b, sf.col("g_a") < sf.col("g_b"))
      .crossJoin(sf.broadcast(mseRow))
      .select({
        val na = sf.col("n_a").cast("double")
        val nb = sf.col("n_b").cast("double")
        val diff = (dec(sf.col("__sa")) * dec(sf.col("n_b")) -
          dec(sf.col("__sb")) * dec(sf.col("n_a"))).cast("double") /
          (na * nb) / 1e4
        val mse = sf.col("__sswS").cast("double") /
          (sf.col("__nT") - sf.col("__k")).cast("double") / 1e8
        val se = sf.sqrt(mse / 2 * (sf.lit(1.0) / na + sf.lit(1.0) / nb))
        val ok = sf.col("__nT") > sf.col("__k") && mse > 0
        Seq(sf.col("g_a"), sf.col("g_b"), sf.col("n_a"), sf.col("n_b"),
          gf.roundAt(diff, 6).as("mean_diff"),
          sf.when(ok, gf.roundAt(sf.abs(diff) / se, 4)).as("q_stat"))
      }: _*)
      .orderBy("g_a", "g_b")
  }

  /** Grubbs' extreme-deviation test (Grubbs 1950) per group — the
    * PARAMETRIC single-outlier statistic beside row 126's MAD fences:
    * G = max|xᵢ − x̄|/s asks "is the WORST point too far for a normal
    * sample of this size", the classic instrument-error screen; MAD
    * flags a robust set, Grubbs prices the single most extreme point
    * against the studentized-maximum null. The statistic and the
    * offending value are the deliverable (the critical value is the
    * caller's t-quantile lookup).
    *
    * Determinism: values on the exact 1e-4 grid; the deviation
    * |nᵢ·v − Σv| is an exact DECIMAL(38,0) integer per row, so the
    * argmax is an exact integer max with the VALUE as pinned
    * tie-break (larger wins); G = (dev/n)/√((nΣv²−S²)/(n(n−1))) is
    * ONE pinned assembly from exact integers (the 1e4 scale cancels),
    * rounded 1e-6. n < 3 or zero variance yields NULL G.
    *
    * Scale shape: one map-side-combined group collapse, one broadcast
    * stats attach back onto the row stream (map-only), one combinable
    * max-struct rollup — no shuffle carries data rows twice. */
  def grubbsTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val rows = df.filter(sf.col(groupCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(groupCol).cast("string").as("g"), v4.as("v"))
    val stats = rows.groupBy("g").agg(sf.count(sf.lit(1)).as("n"),
      sf.sum(dec(sf.col("v"))).as("s"),
      sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("q"))
    rows.join(sf.broadcast(stats), "g")
      .withColumn("__dev", sf.abs(dec(sf.col("n")) * dec(sf.col("v")) - sf.col("s")))
      .groupBy("g").agg(
        sf.max(sf.struct(sf.col("__dev"), sf.col("v"))).as("__m"),
        sf.max("n").as("n"), sf.max("s").as("__s"), sf.max("q").as("__q"))
      .select({
        val n = sf.col("n").cast("double")
        val num = (dec(sf.col("n")) * sf.col("__q") -
          sf.col("__s") * sf.col("__s")).cast("double")
        val sd = sf.sqrt(num / (n * (n - 1)))
        val gStat = sf.col("__m.__dev").cast("double") / n / sd
        val ok = sf.col("n") >= 3 && num > 0
        Seq(sf.col("g").as(groupCol), sf.col("n"),
          gf.roundAt(sf.col("__m.v").cast("double") / 1e4, 4).as("extreme_value"),
          sf.when(ok, gf.roundAt(gStat, 6)).as("g_stat"))
      }: _*)
      .orderBy(groupCol)
  }

  /** Duplicate-transaction audit — groups of records sharing the same
    * (entity, exact amount, same day): the classic double-payment /
    * double-submission screen every finance and ingestion review
    * runs, which row 27's whole-row dedup misses by design (the
    * duplicates differ in id and timestamp — it's the BUSINESS key
    * that collides). Emits one row per collision group with the
    * order-key range so the investigation starts keyed.
    *
    * Determinism: amounts on exact cents, days on exact epoch days,
    * exact counts; fully deterministic output order.
    *
    * Scale shape: ONE map-side-combined (entity, cents, day) rollup +
    * a size filter — a groupBy at any scale. */
  def duplicateTransactions(df: DataFrame, entityCol: String, tsCol: String,
                            amountCol: String, idCol: String): DataFrame = {
    df.filter(sf.col(entityCol).isNotNull && sf.col(tsCol).isNotNull &&
        sf.col(amountCol).isNotNull)
      .select(sf.col(entityCol).as("entity"),
        sf.expr(s"unix_micros(CAST($tsCol AS TIMESTAMP)) div 86400000000")
          .as("__day"),
        sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long")
          .as("__cents"),
        sf.col(idCol).as("__id"))
      .groupBy("entity", "__day", "__cents")
      .agg(sf.count(sf.lit(1)).as("n_records"),
        sf.min("__id").as("first_id"), sf.max("__id").as("last_id"))
      .filter(sf.col("n_records") >= 2)
      .select(sf.col("entity"),
        sf.date_format(sf.timestamp_micros(sf.col("__day") * 86400000000L),
          "yyyy-MM-dd").as("date"),
        gf.roundAt(sf.col("__cents").cast("double") / 100, 2).as("amount"),
        sf.col("n_records"), sf.col("first_id"), sf.col("last_id"))
      .orderBy("entity", "date", "amount")
  }

  /** Paired t-test on per-user condition means — the PARAMETRIC twin
    * of row 411's Wilcoxon signed-rank (same pairing, same question:
    * does the same user behave differently under condition A vs B),
    * with Cohen's d_z effect size: pairing removes between-user
    * variance, which is why both beat the unpaired row 302 test on
    * within-user questions; report both t and d_z because a tiny
    * honest effect with a huge n is "significant" forever.
    *
    * Determinism: per-user condition means are pinned doubles of
    * exact 1e-4 sums SNAPPED to 1e-6 longs (differences then sum
    * exactly — no float accumulation across users); t and d_z are one
    * pinned assembly each, 1e-6. n < 2 pairs or zero diff variance →
    * NULL.
    *
    * Scale shape: one (user, condition) rollup + a paired self join +
    * a one-row finish. */
  def pairedTTest(df: DataFrame, keyCol: String, condCol: String,
                  valueCol: String, condA: String, condB: String): DataFrame = {
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val per = df.filter(sf.col(keyCol).isNotNull && sf.col(valueCol).isNotNull &&
        sf.col(condCol).isin(condA, condB))
      .select(sf.col(keyCol).as("k"), sf.col(condCol).as("c"), v4.as("v"))
      .groupBy("k", "c")
      .agg(sf.sum(dec(sf.col("v"))).as("s"), sf.count(sf.lit(1)).as("n"))
      .select(sf.col("k"), sf.col("c"),
        (sf.col("s").cast("double") / sf.col("n").cast("double") / 1e4)
          .as("__m"))
    val paired = per.filter(sf.col("c") === condA)
      .select(sf.col("k"), sf.col("__m").as("__ma"))
      .join(per.filter(sf.col("c") === condB)
        .select(sf.col("k"), sf.col("__m").as("__mb")), "k")
      .select(sf.floor((sf.col("__ma") - sf.col("__mb")) * 1e6 + 0.5)
        .cast("long").as("__d6"))
    paired.agg(sf.count(sf.lit(1)).as("n_pairs"),
        sf.sum(dec(sf.col("__d6"))).as("__sd"),
        sf.sum(dec(sf.col("__d6")) * dec(sf.col("__d6"))).as("__qd"))
      .select({
        val n = sf.col("n_pairs").cast("double")
        val mean = sf.col("__sd").cast("double") / n / 1e6
        val num = (dec(sf.col("n_pairs")) * sf.col("__qd") -
          sf.col("__sd") * sf.col("__sd")).cast("double")
        val sd = sf.sqrt(num / (n * (n - 1.0))) / 1e6
        val t = mean / (sd / sf.sqrt(n))
        val ok = sf.col("n_pairs") >= 2 && num > 0
        Seq(sf.col("n_pairs"),
          sf.when(sf.col("n_pairs") > 0, gf.roundAt(mean, 6)).as("mean_diff"),
          sf.when(ok, gf.roundAt(t, 6)).as("t_stat"),
          sf.when(ok, gf.roundAt(mean / sd, 6)).as("cohens_dz"))
      }: _*)
  }

  /** Simpson's-paradox detector over a stratified 2×2 family — the
    * DIAGNOSTIC row 276's CMH pooling assumes away: per stratum the
    * exact association direction sign(ad − bc), vs the pooled table's
    * direction; `paradox` fires when the pooled direction is nonzero
    * and EVERY informative stratum points the other way — the
    * textbook aggregation reversal (admission bias, kidney-stone
    * treatment) that silently inverts any pooled readout. Report the
    * stratum sign census either way: a mixed census means "don't pool
    * without CMH", which is the operational answer.
    *
    * Determinism: all signs are exact integer comparisons (ad vs bc);
    * the pooled odds ratio is one pinned division 1e-6 (NULL on zero
    * cells). Zero-margin strata are uninformative and counted
    * separately.
    *
    * Scale shape: one (stratum, arm, outcome) cell collapse + one
    * stratum-domain pivot + a one-row census. */
  def simpsonsParadox(df: DataFrame, stratumCol: String, armPred: Column,
                      outcomePred: Column): DataFrame = {
    val cells = df.filter(sf.col(stratumCol).isNotNull)
      .select(sf.col(stratumCol).cast("string").as("s"),
        armPred.as("__t"), outcomePred.as("__o"))
      .filter(sf.col("__t").isNotNull && sf.col("__o").isNotNull)
      .groupBy("s")
      .agg(sf.sum((sf.col("__t") && sf.col("__o")).cast("long")).cast("long").as("a"),
        sf.sum((sf.col("__t") && !sf.col("__o")).cast("long")).cast("long").as("b"),
        sf.sum((!sf.col("__t") && sf.col("__o")).cast("long")).cast("long").as("c"),
        sf.sum((!sf.col("__t") && !sf.col("__o")).cast("long")).cast("long").as("d"))
      .localCheckpoint(true) // census + pooled read it
    val census = cells
      .select(sf.col("s"),
        (dec(sf.col("a")) * dec(sf.col("d")) -
          dec(sf.col("b")) * dec(sf.col("c"))).as("__det"),
        ((sf.col("a") + sf.col("b")) === 0 || (sf.col("c") + sf.col("d")) === 0 ||
          (sf.col("a") + sf.col("c")) === 0 || (sf.col("b") + sf.col("d")) === 0)
          .as("__degen"))
      .agg(sf.count(sf.lit(1)).as("n_strata"),
        sf.sum((!sf.col("__degen") && sf.col("__det") > 0).cast("long"))
          .cast("long").as("n_positive"),
        sf.sum((!sf.col("__degen") && sf.col("__det") < 0).cast("long"))
          .cast("long").as("n_negative"),
        sf.sum(sf.col("__degen").cast("long")).cast("long").as("n_degenerate"))
    val pooled = cells.agg(sf.sum("a").cast("long").as("pa"),
      sf.sum("b").cast("long").as("pb"), sf.sum("c").cast("long").as("pc"),
      sf.sum("d").cast("long").as("pd"))
    census.crossJoin(sf.broadcast(pooled))
      .select({
        val det = dec(sf.col("pa")) * dec(sf.col("pd")) -
          dec(sf.col("pb")) * dec(sf.col("pc"))
        val pooledSign = sf.when(det > 0, 1).when(det < 0, -1).otherwise(0)
        val informative = sf.col("n_positive") + sf.col("n_negative")
        Seq(sf.col("n_strata"), sf.col("n_positive"), sf.col("n_negative"),
          sf.col("n_degenerate"),
          sf.when(sf.col("pb") * sf.col("pc") > 0, gf.roundAt(
            sf.col("pa").cast("double") * sf.col("pd").cast("double") /
              (sf.col("pb").cast("double") * sf.col("pc").cast("double")), 6))
            .as("pooled_or"),
          pooledSign.cast("int").as("pooled_sign"),
          (informative > 0 &&
            ((pooledSign === 1 && sf.col("n_positive") === 0) ||
              (pooledSign === -1 && sf.col("n_negative") === 0)))
            .as("paradox"))
      }: _*)
  }

  /** Classification-metrics panel at a fixed decision threshold — the
    * confusion matrix and the seven numbers every model review wants
    * side by side: accuracy, precision, recall, specificity, F1,
    * balanced accuracy, Youden's J, and MATTHEWS correlation (the one
    * single-number summary that stays honest under class imbalance —
    * accuracy and F1 both inflate when one class dominates; MCC is
    * the φ coefficient of the confusion table). The FIXED-threshold
    * companion of row 214's full PR curve and row 241's F1-optimal
    * search: production runs at ONE threshold, this is its report.
    *
    * Determinism: exact confusion counts; every metric is a pinned
    * integer-ratio assembly 1e-6 (MCC's √ of the DECIMAL margin
    * product is IEEE-exact); zero denominators → NULL.
    *
    * Scale shape: one combinable confusion rollup + a one-row finish. */
  def classificationPanel(df: DataFrame, scoreCol: String, labelCol: String,
                          threshold: Double = 0.0): DataFrame = {
    val rows = df.filter(sf.col(scoreCol).isNotNull && sf.col(labelCol).isNotNull)
      .select((sf.col(scoreCol).cast("double") > threshold).as("__p"),
        (sf.col(labelCol).cast("int") === 1).as("__y"))
    rows.agg(
        sf.sum((sf.col("__p") && sf.col("__y")).cast("long")).cast("long").as("tp"),
        sf.sum((sf.col("__p") && !sf.col("__y")).cast("long")).cast("long").as("fp"),
        sf.sum((!sf.col("__p") && !sf.col("__y")).cast("long")).cast("long").as("tn"),
        sf.sum((!sf.col("__p") && sf.col("__y")).cast("long")).cast("long").as("fn"))
      .select({
        def ratio(num: Column, den: Column) =
          sf.when(den > 0, gf.roundAt(num.cast("double") / den.cast("double"), 6))
        val tp = sf.col("tp"); val fp = sf.col("fp")
        val tn = sf.col("tn"); val fn = sf.col("fn")
        val n = tp + fp + tn + fn
        val rec = tp.cast("double") / (tp + fn).cast("double")
        val spec = tn.cast("double") / (tn + fp).cast("double")
        val mccNum = (dec(tp) * dec(tn) - dec(fp) * dec(fn)).cast("double")
        val mccDen = sf.sqrt(
          (dec(tp + fp) * dec(tp + fn) * dec(tn + fp) * dec(tn + fn))
            .cast("double"))
        Seq(tp, fp, tn, fn,
          ratio(tp + tn, n).as("accuracy"),
          ratio(tp, tp + fp).as("precision"),
          ratio(tp, tp + fn).as("recall"),
          ratio(tn, tn + fp).as("specificity"),
          ratio(tp * 2, tp * 2 + fp + fn).as("f1"),
          sf.when((tp + fn) > 0 && (tn + fp) > 0,
            gf.roundAt((rec + spec) / 2.0, 6)).as("balanced_accuracy"),
          sf.when((tp + fn) > 0 && (tn + fp) > 0,
            gf.roundAt(rec + spec - 1.0, 6)).as("youden_j"),
          sf.when((tp + fp) > 0 && (tp + fn) > 0 && (tn + fp) > 0 && (tn + fn) > 0,
            gf.roundAt(mccNum / mccDen, 6)).as("mcc"))
      }: _*)
  }

  /** ANOVA effect sizes — η², ω², and Cohen's f² for the row-175
    * one-way design: the F statistic (row 175) says the means differ;
    * these say HOW MUCH of the variance that explains (η² = SSB/SST),
    * corrected for the positive small-sample bias (ω² — the honest
    * estimate to report), and in Cohen's regression-effect units
    * (f² = η²/(1−η²), the power-analysis input). The difference
    * between "statistically significant" and "worth acting on".
    *
    * Determinism: row 175's exact 1e-4 fixed-point group moments and
    * 1e-6-snapped per-group between/within terms VERBATIM; the three
    * effect sizes extend the same ONE pinned assembly, rounded 1e-6.
    * Degenerate designs (k < 2, n ≤ k, zero SST) → NULL.
    *
    * Scale shape: identical to row 175 — one group rollup + a one-row
    * finish. */
  def anovaEffects(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val g = df.filter(sf.col(valueCol).isNotNull)
      .select(sf.col(groupCol).as("__g"), x4.as("__x4"))
      .groupBy("__g")
      .agg(sf.count(sf.lit(1)).as("__n"), sf.sum(dec(sf.col("__x4"))).as("__s"),
        sf.sum(dec(sf.col("__x4")) * dec(sf.col("__x4"))).as("__ss"))
    val sg = sf.col("__s").cast("double") / 1e4
    val ng = sf.col("__n").cast("double")
    val bTerm = sf.floor(sg * sg / ng * 1e6 + 0.5).cast("long")
    val wTerm = sf.floor((sf.col("__ss").cast("double") / 1e8 - sg * sg / ng)
      * 1e6 + 0.5).cast("long")
    g.select(sf.col("__n"), sf.col("__s"), bTerm.as("__bt"), wTerm.as("__wt"))
      .agg(sf.count(sf.lit(1)).as("k"), sf.sum("__n").as("n"),
        sf.sum(dec(sf.col("__s"))).as("__st"),
        sf.sum(dec(sf.col("__bt"))).as("__b"), sf.sum(dec(sf.col("__wt"))).as("__w"))
      .select({
        val n = sf.col("n").cast("double")
        val k = sf.col("k").cast("double")
        val grand = sf.col("__st").cast("double") / 1e4
        val ssb = sf.col("__b").cast("double") / 1e6 - grand * grand / n
        val ssw = sf.col("__w").cast("double") / 1e6
        val sst = ssb + ssw
        val msw = ssw / (n - k)
        val eta2 = ssb / sst
        val omega2 = (ssb - (k - 1.0) * msw) / (sst + msw)
        val ok = sf.col("k") > 1 && sf.col("n") > sf.col("k") && sst > 0 && ssw > 0
        Seq(sf.col("k"), sf.col("n"),
          sf.when(ok, gf.roundAt(eta2, 6)).as("eta_squared"),
          sf.when(ok, gf.roundAt(omega2, 6)).as("omega_squared"),
          sf.when(ok, sf.when(eta2 < 1.0,
            gf.roundAt(eta2 / (sf.lit(1.0) - eta2), 6))).as("cohens_f2"))
      }: _*)
  }

  /** Robust five-number-plus summary per group — min, exact type-1
    * quartiles, max, IQR, Tukey's TRIMEAN (q1 + 2·median + q3)/4 and
    * MIDHINGE (q1 + q3)/2: the robust-location ladder between the
    * mean (efficient, fragile) and the median (robust, throws away
    * the quartiles' information — the trimean keeps ~88% efficiency
    * under normality while staying outlier-proof). The five-number
    * shape every box plot draws, as a table.
    *
    * Determinism: values on the exact 1e-4 grid collapsed to the
    * (group, value) DOMAIN; quartiles are exact type-1 order
    * statistics (min v with cum·4 ≥ q·n — pure integer comparisons,
    * the row 386 threshold convention); trimean/midhinge are pinned
    * assemblies of exact integers, /1e4 once.
    *
    * Scale shape: one domain collapse + a domain-bounded per-group
    * cumulative (the row 144 convention) + one combinable rollup. */
  def fiveNumber(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val cells = df.filter(sf.col(groupCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(groupCol).cast("string").as("g"), v4.as("v"))
      .groupBy("g", "v").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // totals + cumulative read it
    val tot = cells.groupBy("g").agg(sf.sum("c").cast("long").as("n"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("__cum", sf.sum("c").over(w))
      .join(tot, "g")
      .groupBy("g")
      .agg(sf.max("n").as("n"),
        sf.min("v").as("__mn"), sf.max("v").as("__mx"),
        sf.min(sf.when(sf.col("__cum") * 4 >= sf.col("n"), sf.col("v"))).as("__q1"),
        sf.min(sf.when(sf.col("__cum") * 2 >= sf.col("n"), sf.col("v"))).as("__q2"),
        sf.min(sf.when(sf.col("__cum") * 4 >= sf.col("n") * 3, sf.col("v")))
          .as("__q3"))
      .select(sf.col("g").as(groupCol), sf.col("n"),
        gf.roundAt(sf.col("__mn").cast("double") / 1e4, 4).as("min_v"),
        gf.roundAt(sf.col("__q1").cast("double") / 1e4, 4).as("q1"),
        gf.roundAt(sf.col("__q2").cast("double") / 1e4, 4).as("median"),
        gf.roundAt(sf.col("__q3").cast("double") / 1e4, 4).as("q3"),
        gf.roundAt(sf.col("__mx").cast("double") / 1e4, 4).as("max_v"),
        gf.roundAt((sf.col("__q3") - sf.col("__q1")).cast("double") / 1e4, 4)
          .as("iqr"),
        gf.roundAt((sf.col("__q1") + sf.col("__q2") * 2 + sf.col("__q3"))
          .cast("double") / 4e4, 4).as("trimean"),
        gf.roundAt((sf.col("__q1") + sf.col("__q3")).cast("double") / 2e4, 4)
          .as("midhinge"))
      .orderBy(groupCol)
  }

  /** Cramér–von Mises uniformity audit of the engine's own hash
    * splitter — W² of the [[graft.operators.Sampling.hashBucket]]
    * bucket distribution against Uniform[0, 1): every deterministic
    * split, A/B assignment, and sample in this library (rows 60, 105,
    * 129) leans on that hash being uniform OVER THE ACTUAL KEYS; a
    * key population aligned with the multiplier's structure would
    * silently bias every downstream experiment, and this audit is the
    * standing proof it doesn't. W² = 1/(12n) + Σ(u_(i) − (2i−1)/(2n))²
    * with u = (bucket + ½)/10⁴ (bucket midpoints).
    *
    * Determinism: the tied-rank sum has the standard closed form on
    * the bucket DOMAIN — per cell (c occurrences at rank i..i+c−1)
    * the three pieces scale by M = 16·10⁸·n² to EXACT integers
    * (4c(2b+1)²n² − 80000n(2b+1)·Σa + 4·10⁸Σa², with Σa, Σa² exact
    * range sums of odd numbers) accumulated in DECIMAL(38,0); W² is
    * 1/(12n) + T/M — ONE pinned assembly rounded 1e-9 (the statistic
    * lives near 0). Expected value under uniformity ≈ 1/6.
    *
    * Scale shape: one distinct-key pass + a 10⁴-bounded bucket-domain
    * collapse + one domain-bounded cumulative + a one-row finish. */
  def hashUniformityCvm(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.filter(sf.col(keyCol).isNotNull)
      .select(sf.col(keyCol).as("k")).distinct()
      .select(graft.operators.Sampling.hashBucket(sf.col("k")).as("b"))
      .groupBy("b").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // total + cumulative read it
    val tot = cells.agg(sf.sum("c").cast("long").as("n"))
    val w = Window.partitionBy(sf.pmod(sf.col("b"), sf.lit(1)))
      .orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells.withColumn("__cum", sf.sum("c").over(w))
      .crossJoin(sf.broadcast(tot))
      .select(sf.col("b"), sf.col("c"), sf.col("n"),
        (sf.col("__cum") - sf.col("c") + 1).as("i"))
    // exact LONG range sums (all divisions are exact: c(c-1) is even,
    // m(m+1)(2m+1) is divisible by 6), then DECIMAL only for the big
    // scaled products
    val terms = ranked
      .withColumn("__hij", sf.col("i") + sf.col("c") - 1)
      .withColumn("__sj",
        sf.expr("c * i + (c * (c - 1)) DIV 2"))
      .withColumn("__sj2", sf.expr(
        "(__hij * (__hij + 1) * (__hij * 2 + 1)) DIV 6" +
          " - ((i - 1) * i * ((i - 1) * 2 + 1)) DIV 6"))
      .withColumn("__sa", sf.expr("c * (i * 2 + c - 2)"))
      .withColumn("__sa2", sf.expr("__sj2 * 4 - __sj * 4 + c"))
      .select(sf.col("n"), {
        val c = dec(sf.col("c")); val n = dec(sf.col("n"))
        val b2 = dec(sf.col("b") * 2 + 1)
        (c * b2 * b2 * n * n * 4 -
          n * b2 * dec(sf.col("__sa")) * 80000 +
          dec(sf.col("__sa2")) * 400000000L).as("__t")
      })
    terms.groupBy("n").agg(sf.sum("__t").as("__tt"))
      .select(sf.col("n").as("n_keys"), {
        val n = sf.col("n").cast("double")
        val m = sf.lit(16.0e8) * n * n
        gf.roundAt(sf.lit(1.0) / (sf.lit(12.0) * n) +
          sf.col("__tt").cast("double") / m, 9).as("cvm_w2")
      })
  }

  /** Log–log elasticity per group — the econometric OLS ln(y) =
    * b₀ + ε·ln(x) whose slope reads DIRECTLY as "a 1% change in x
    * moves y by ε%" (constant-elasticity demand/response curves —
    * the number a pricing or capacity model wants where row 181's
    * linear slope depends on the units): elasticity, intercept
    * (back-transformed to the y scale via exp), and R² per group,
    * fit in one scan. Non-positive x or y rows drop (no logarithm —
    * complete-case, documented).
    *
    * Determinism: ln values snap to 1e-9 longs (the row 417
    * convention), so all five OLS sums are exact DECIMAL(38,0) and
    * the slope is scale-free (the 1e-9 grids cancel); slope/R² are
    * ONE pinned assembly 1e-6; the intercept divides the grid back
    * once and exponentiates last. n < 3 or zero x-variance → NULL.
    *
    * Scale shape: one map-side-combined five-sum rollup per group —
    * nothing shuffles but partial sums. */
  def logLogElasticity(df: DataFrame, groupCol: String, yCol: String,
                       xCol: String): DataFrame = {
    def ln9(c: Column) =
      sf.floor(sf.log(c.cast("double")) * 1e9 + 0.5).cast("long")
    val rows = df.filter(sf.col(groupCol).isNotNull &&
        sf.col(xCol).cast("double") > 0 && sf.col(yCol).cast("double") > 0)
      .select(sf.col(groupCol).cast("string").as("g"),
        ln9(sf.col(xCol)).as("x"), ln9(sf.col(yCol)).as("y"))
    rows.groupBy("g")
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("x"))).as("sx"), sf.sum(dec(sf.col("y"))).as("sy"),
        sf.sum(dec(sf.col("x")) * dec(sf.col("x"))).as("sxx"),
        sf.sum(dec(sf.col("y")) * dec(sf.col("y"))).as("syy"),
        sf.sum(dec(sf.col("x")) * dec(sf.col("y"))).as("sxy"))
      .select({
        val cxx = dec(sf.col("n")) * sf.col("sxx") - sf.col("sx") * sf.col("sx")
        val cyy = dec(sf.col("n")) * sf.col("syy") - sf.col("sy") * sf.col("sy")
        val cxy = dec(sf.col("n")) * sf.col("sxy") - sf.col("sx") * sf.col("sy")
        val slope = cxy.cast("double") / cxx.cast("double")
        val b0ln = (sf.col("sy").cast("double") -
          slope * sf.col("sx").cast("double")) /
          sf.col("n").cast("double") / 1e9
        val r2 = cxy.cast("double") * cxy.cast("double") /
          (cxx.cast("double") * cyy.cast("double"))
        val ok = sf.col("n") >= 3 && cxx > 0
        Seq(sf.col("g").as(groupCol), sf.col("n"),
          sf.when(ok, gf.roundAt(slope, 6)).as("elasticity"),
          sf.when(ok, gf.roundAt(sf.exp(b0ln), 6)).as("intercept"),
          sf.when(ok, sf.when(cyy > 0, gf.roundAt(r2, 6))).as("r2"))
      }: _*)
      .orderBy(groupCol)
  }

  /** First-order partial correlation r_xy·z — row 418's two-regressor
    * OLS read as a CORRELATION: (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))
    * answers "does x still track y once z is held fixed" — the
    * confounder screen (a raw r_xy of 0.8 that partials to 0.05 was z
    * all along) in correlation units, where row 418 answers in slope
    * units. Reports all three raw correlations beside the partial so
    * the collapse is visible, not just asserted.
    *
    * Determinism: values on the exact 1e-4 grid; the six n-scaled
    * centered moments C_ab = nΣab − ΣaΣb are exact DECIMAL(38,0); the
    * r chain is ONE pinned left-assoc double assembly rounded 1e-6,
    * with NESTED CaseWhen guards (variances first, then the 1−r²
    * discriminants — the row 428 ANSI-division discipline). n < 3,
    * any constant column, or |r_xz| = 1 / |r_yz| = 1 → NULL partial.
    *
    * Scale shape: one map-side-combined nine-sum scan + a one-row
    * finish — nothing shuffles but partial sums. */
  def partialCorrelation(df: DataFrame, xCol: String, yCol: String,
                         zCol: String): DataFrame = {
    def g4(name: String) =
      sf.floor(sf.col(name).cast("double") * 1e4 + 0.5).cast("long")
    val rows = df.filter(sf.col(xCol).isNotNull && sf.col(yCol).isNotNull &&
        sf.col(zCol).isNotNull)
      .select(g4(xCol).as("x"), g4(yCol).as("y"), g4(zCol).as("z"))
    rows.agg(
        sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("x"))).as("sx"), sf.sum(dec(sf.col("y"))).as("sy"),
        sf.sum(dec(sf.col("z"))).as("sz"),
        sf.sum(dec(sf.col("x")) * dec(sf.col("x"))).as("sxx"),
        sf.sum(dec(sf.col("y")) * dec(sf.col("y"))).as("syy"),
        sf.sum(dec(sf.col("z")) * dec(sf.col("z"))).as("szz"),
        sf.sum(dec(sf.col("x")) * dec(sf.col("y"))).as("sxy"),
        sf.sum(dec(sf.col("x")) * dec(sf.col("z"))).as("sxz"),
        sf.sum(dec(sf.col("y")) * dec(sf.col("z"))).as("syz"))
      .select({
        def ctr(sab: Column, sa: Column, sb: Column) =
          dec(sf.col("n")) * sab - sa * sb
        val cxx = ctr(sf.col("sxx"), sf.col("sx"), sf.col("sx"))
        val cyy = ctr(sf.col("syy"), sf.col("sy"), sf.col("sy"))
        val czz = ctr(sf.col("szz"), sf.col("sz"), sf.col("sz"))
        val cxy = ctr(sf.col("sxy"), sf.col("sx"), sf.col("sy"))
        val cxz = ctr(sf.col("sxz"), sf.col("sx"), sf.col("sz"))
        val cyz = ctr(sf.col("syz"), sf.col("sy"), sf.col("sz"))
        val rxy = cxy.cast("double") /
          (sf.sqrt(cxx.cast("double")) * sf.sqrt(cyy.cast("double")))
        val rxz = cxz.cast("double") /
          (sf.sqrt(cxx.cast("double")) * sf.sqrt(czz.cast("double")))
        val ryz = cyz.cast("double") /
          (sf.sqrt(cyy.cast("double")) * sf.sqrt(czz.cast("double")))
        val varsOk = sf.col("n") >= 3 && cxx > 0 && cyy > 0 && czz > 0
        def r6(x: Column) = sf.when(varsOk, gf.roundAt(x, 6))
        val disc = (sf.lit(1.0) - rxz * rxz) * (sf.lit(1.0) - ryz * ryz)
        val partial = (rxy - rxz * ryz) / sf.sqrt(disc)
        Seq(sf.col("n"), r6(rxy).as("r_xy"), r6(rxz).as("r_xz"),
          r6(ryz).as("r_yz"),
          sf.when(varsOk, sf.when(disc > 0.0, gf.roundAt(partial, 6)))
            .as("partial_r_xy_given_z"))
      }: _*)
  }

  /** Bowker's symmetry test (Bowker 1948) on a paired k×k rating
    * table — the k-level generalization of row 294's McNemar: over
    * subjects rated twice (two models, two snapshots, two raters),
    * χ²_B = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji) asks whether
    * MIGRATION between categories is symmetric — a significant χ²_B
    * means ratings drift in a DIRECTION (tiers inflate, a model
    * systematically up-scores), which marginal totals alone can hide
    * and which is invisible to agreement coefficients (row 225's κ
    * reads how often raters agree, not which way they disagree).
    * Discordant pairs with n_ij + n_ji = 0 drop and df reduces —
    * the standard convention; df = #nonzero discordant pairs.
    *
    * Determinism: exact cell counts; each pair's term snaps to a
    * 1e-9 long (pinned (d·d)/s double, one per pair), the sum is an
    * exact long total, one final /1e9 rounding at 1e-6.
    *
    * Scale shape: one (a, b) cell collapse + a pair-domain full-outer
    * self-merge (k²-bounded) + a one-row finish. */
  def bowkerSymmetry(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(sf.col(aCol).isNotNull && sf.col(bCol).isNotNull)
      .select(sf.col(aCol).cast("string").as("a"), sf.col(bCol).cast("string").as("b"))
      .groupBy("a", "b").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // totals + both triangles read it
    val tot = cells.agg(sf.sum("c").cast("long").as("n"))
    val k = cells.select(sf.col("a").as("l"))
      .union(cells.select(sf.col("b").as("l")))
      .agg(sf.count_distinct(sf.col("l")).as("k"))
    val up = cells.filter(sf.col("a") < sf.col("b"))
      .select(sf.col("a").as("i"), sf.col("b").as("j"), sf.col("c").as("nij"))
    val dn = cells.filter(sf.col("a") > sf.col("b"))
      .select(sf.col("b").as("i"), sf.col("a").as("j"), sf.col("c").as("nji"))
    val terms = up.join(dn, Seq("i", "j"), "full_outer")
      .select((sf.coalesce(sf.col("nij"), sf.lit(0L)) -
        sf.coalesce(sf.col("nji"), sf.lit(0L))).as("__d"),
        (sf.coalesce(sf.col("nij"), sf.lit(0L)) +
          sf.coalesce(sf.col("nji"), sf.lit(0L))).as("__s"))
      .filter(sf.col("__s") > 0)
      .select(sf.floor((sf.col("__d") * sf.col("__d")).cast("double") /
        sf.col("__s").cast("double") * 1e9 + 0.5).cast("long").as("__t9"))
      .agg(sf.count(sf.lit(1)).as("df"),
        sf.coalesce(sf.sum("__t9"), sf.lit(0L)).as("__chi9"))
    tot.crossJoin(sf.broadcast(k)).crossJoin(sf.broadcast(terms))
      .select(sf.col("n"), sf.col("k").as("n_categories"), sf.col("df"),
        gf.roundAt(sf.col("__chi9").cast("double") / 1e9, 6).as("bowker_chi2"))
  }

  /** Kendall's coefficient of concordance W (Kendall & Babington
    * Smith 1939) — row 322's blocked-rank machinery read as AGREEMENT
    * instead of difference: W = χ²_F/(n(k−1)) ∈ [0, 1] asks "do the n
    * blocks RANK the k treatments the same way" (1 = every month ranks
    * the priorities identically, 0 = no consensus), and ρ̄ =
    * (nW − 1)/(n − 1) is the average Spearman correlation between
    * block rankings — the judge-consistency number an eval-panel
    * audit reports where Friedman only says "not identical".
    *
    * Determinism: the row 322 chain verbatim (exact 1e-4 cell means,
    * 2-scaled midranks, DECIMAL rank-sum squares); W and ρ̄ extend the
    * same ONE pinned assembly, rounded 1e-6. Midranked ties make W
    * the standard conservative form (no tie-correction term —
    * documented). k < 2 or zero complete blocks → NULL.
    *
    * Scale shape: identical to row 322 — domain-compressed collapse,
    * completeness semi join, bounded per-block windows, k-row rollup. */
  def kendallW(df: DataFrame, blockCol: String, treatCol: String,
               valueCol: String): DataFrame = {
    val cells = df.filter(sf.col(blockCol).isNotNull &&
        sf.col(treatCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(blockCol).as("b"), sf.col(treatCol).as("tr"),
        sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long").as("v4"))
      .groupBy("b", "tr").agg(sf.sum("v4").as("s4"), sf.count(sf.lit(1)).as("c"))
      .select(sf.col("b"), sf.col("tr"),
        sf.floor(sf.col("s4").cast("double") / sf.col("c").cast("double") + 0.5)
          .cast("long").as("m4"))
      .localCheckpoint(true) // k scalar + completeness + ranks read it
    val kRow = cells.agg(sf.countDistinct("tr").as("k"))
    val complete = cells.groupBy("b").agg(sf.count(sf.lit(1)).as("__nt"))
      .crossJoin(sf.broadcast(kRow))
      .filter(sf.col("__nt") === sf.col("k")).select("b")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("b")
    val ranked = cells.join(complete, Seq("b"), "left_semi")
      .withColumn("__rk", sf.rank().over(w.orderBy("m4")))
      .withColumn("__ties",
        sf.count(sf.lit(1)).over(w.orderBy("m4").rangeBetween(0, 0)))
      .select(sf.col("tr"),
        (sf.lit(2L) * sf.col("__rk") + sf.col("__ties") - 1L).as("__ar2"))
    val rj = ranked.groupBy("tr").agg(sf.sum("__ar2").cast("long").as("__r2j"))
    val nB = complete.agg(sf.count(sf.lit(1)).as("n_blocks"))
    rj.agg(sf.sum(dec(sf.col("__r2j")) * dec(sf.col("__r2j"))).as("__sr2"))
      .crossJoin(sf.broadcast(nB)).crossJoin(sf.broadcast(kRow))
      .select({
        val n = sf.col("n_blocks").cast("double")
        val kD = sf.col("k").cast("double")
        val chi = sf.lit(3.0) * sf.col("__sr2").cast("double") /
          (n * kD * (kD + 1.0)) - sf.lit(3.0) * n * (kD + 1.0)
        val wStat = chi / (n * (kD - 1.0))
        val ok = sf.col("n_blocks") > 0 && sf.col("k") >= 2
        Seq(sf.col("n_blocks"), sf.col("k"),
          sf.when(ok, gf.roundAt(chi, 6)).as("chi2_f"),
          sf.when(ok, gf.roundAt(wStat, 6)).as("kendall_w"),
          sf.when(sf.col("n_blocks") > 1 && sf.col("k") >= 2, gf.roundAt(
            (n * wStat - 1.0) / (n - 1.0), 6)).as("mean_spearman_rho"))
      }: _*)
  }

  /** Generalized ESD outlier rounds (Rosner 1983) per group — the
    * MULTI-outlier extension of row 415's Grubbs test, which is
    * famously masked by its own target: two far outliers inflate the
    * SD enough that neither looks extreme. GESD removes the most
    * extreme point and RETESTS on the remainder, `rounds` times,
    * reporting each round's studentized statistic R_r and the removed
    * value — read the R ladder downward and cut where it collapses
    * (the critical-value table is the analyst's, by design: it
    * depends on the chosen α and the t quantile, which an engine
    * should report inputs for, not bake in).
    *
    * Determinism: the round argmax is row 415's exact integer
    * |n·v − Σv| with value tie-break, computed on the (group, value,
    * count) DOMAIN — removal decrements one count, so tied duplicates
    * leave one at a time; R_r is the identical pinned Grubbs assembly
    * 1e-6; a group with n < 3 or zero variance reports NULL R but
    * still shows what was removed (n ≥ 1).
    *
    * Scale shape: the domain collapse happens once; each round is a
    * broadcast-stats attach + domain argmax + a count decrement on the
    * domain frame — `rounds` (≤ 5) passes over the DOMAIN, never the
    * rows. */
  def gesdOutliers(df: DataFrame, groupCol: String, valueCol: String,
                   rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 5, s"rounds must be in [1, 5], got $rounds")
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    var cells = df.filter(sf.col(groupCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.col(groupCol).cast("string").as("g"), v4.as("v"))
      .groupBy("g", "v").agg(sf.count(sf.lit(1)).as("cnt"))
      .localCheckpoint(true)
    val outs = scala.collection.mutable.Buffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val stats = cells.groupBy("g").agg(sf.sum("cnt").cast("long").as("n"),
        sf.sum(dec(sf.col("cnt")) * dec(sf.col("v"))).as("s"),
        sf.sum(dec(sf.col("cnt")) * dec(sf.col("v")) * dec(sf.col("v"))).as("q"))
      val top = cells.join(sf.broadcast(stats), "g")
        .withColumn("__dev", sf.abs(dec(sf.col("n")) * dec(sf.col("v")) - sf.col("s")))
        .groupBy("g").agg(
          sf.max(sf.struct(sf.col("__dev"), sf.col("v"))).as("__m"),
          sf.max("n").as("n"), sf.max("s").as("__s"), sf.max("q").as("__q"))
        .localCheckpoint(true) // output row + next round's removal read it
      outs += top.select({
        val n = sf.col("n").cast("double")
        val num = (dec(sf.col("n")) * sf.col("__q") -
          sf.col("__s") * sf.col("__s")).cast("double")
        val sd = sf.sqrt(num / (n * (n - 1)))
        val rStat = sf.col("__m.__dev").cast("double") / n / sd
        val ok = sf.col("n") >= 3 && num > 0
        Seq(sf.col("g").as(groupCol), sf.lit(r.toLong).as("round"), sf.col("n"),
          gf.roundAt(sf.col("__m.v").cast("double") / 1e4, 4).as("removed_value"),
          sf.when(ok, gf.roundAt(rStat, 6)).as("r_stat"))
      }: _*)
      if (r < rounds) {
        cells = cells
          .join(top.select(sf.col("g"), sf.col("__m.v").as("__rv")), Seq("g"), "left")
          .withColumn("cnt", sf.when(sf.col("v") === sf.col("__rv"),
            sf.col("cnt") - 1).otherwise(sf.col("cnt")))
          .filter(sf.col("cnt") > 0).drop("__rv")
          .localCheckpoint(true)
      }
    }
    outs.reduce(_.unionByName(_)).orderBy(groupCol, "round")
  }

  /** Theil's uncertainty coefficient U (Theil 1970) between two
    * categorical columns — the ASYMMETRIC, normalized mutual-
    * information readout the χ²/Cramér's-V pair can't give: V says
    * "associated", U(X|Y) = I(X;Y)/H(X) says "knowing Y removes this
    * FRACTION of X's uncertainty" — directional (U(X|Y) ≠ U(Y|X)
    * exactly when one variable is a refinement of the other) and
    * immune to V's inflation on near-empty rows. The datasheet answer
    * to "how predictable is a document's language from its source".
    *
    * Determinism: exact (x, y) cell and margin counts; every entropy
    * term Σc·ln c accumulates as exact DECIMAL(38,0) over 1e-9-snapped
    * per-cell ln longs (floating partial sums would be partition-
    * order-dependent); H = ln N − Σ/(N·1e9), I = H_X + H_Y − H_XY, and
    * the three ratios are ONE pinned assembly rounded 1e-6. A
    * zero-entropy axis (constant column) yields NULL for the ratios
    * that divide by it.
    *
    * Scale shape: one map-side-combined cell collapse (domain-
    * compressed), two margin rollups from the cells, three one-row
    * sums — nothing data-sized past the first combine. */
  def uncertaintyCoefficient(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def lnTerm(c: Column) = // Σ c·ln(c), 1e-9-scaled exact integers
      sf.sum(dec(c) * dec(sf.floor(sf.log(c.cast("double")) * 1e9 + 0.5)
        .cast("long")))
    val cells = df.filter(sf.col(xCol).isNotNull && sf.col(yCol).isNotNull)
      .select(sf.col(xCol).cast("string").as("x"), sf.col(yCol).cast("string").as("y"))
      .groupBy("x", "y").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // both margins + the joint sum read it
    val joint = cells.agg(sf.sum("c").cast("long").as("n"),
      lnTerm(sf.col("c")).as("__sxy"))
    val mx = cells.groupBy("x").agg(sf.sum("c").as("cx"))
      .agg(lnTerm(sf.col("cx")).as("__sx"))
    val my = cells.groupBy("y").agg(sf.sum("c").as("cy"))
      .agg(lnTerm(sf.col("cy")).as("__sy"))
    joint.crossJoin(sf.broadcast(mx)).crossJoin(sf.broadcast(my))
      .select({
        val n = sf.col("n").cast("double")
        def h(s: Column) = sf.log(n) - s.cast("double") / 1e9 / n
        val hx = h(sf.col("__sx"))
        val hy = h(sf.col("__sy"))
        val mi = hx + hy - h(sf.col("__sxy"))
        Seq(sf.col("n"),
          gf.roundAt(hx, 6).as("h_x"), gf.roundAt(hy, 6).as("h_y"),
          gf.roundAt(mi, 6).as("mutual_info"),
          sf.when(hx > 0, gf.roundAt(mi / hx, 6)).as("u_x_given_y"),
          sf.when(hy > 0, gf.roundAt(mi / hy, 6)).as("u_y_given_x"),
          sf.when(hx + hy > 0, gf.roundAt(mi * 2 / (hx + hy), 6)).as("u_symmetric"))
      }: _*)
  }

  /** G-test of independence (log-likelihood ratio; Sokal & Rohlf 1981)
    * between two categorical columns — the χ² twin (row 145) that is
    * ADDITIVE across partitions of the table and exactly 2n·ln(2)·MI,
    * so it is the test statistic that matches the information-theoretic
    * ladder (rows 204/417) instead of merely approximating it: G =
    * 2·Σ O·ln(O/E) = 2·[Σc·ln c + n·ln n − Σr·ln r − Σk·ln k] over the
    * observed cells and margins, asymptotically χ²((R−1)(C−1)) like χ²
    * but preferred when any O/E ratio is large (χ² inflates there).
    *
    * Determinism: exact cell/margin counts; every Σc·ln c accumulates
    * 1e-9-snapped per-count ln longs in DECIMAL(38,0) (the row 417
    * machinery), G is ONE pinned assembly rounded 1e-6. Complete-case
    * on nulls (documented). A degenerate table (R = 1 or C = 1) yields
    * G = 0 with df = 0.
    *
    * Scale shape: one (x, y) cell collapse + two margin rollups + a
    * one-row finish — the row 417 plan exactly. */
  def gTest(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def lnTerm(c: Column) =
      sf.sum(dec(c) * dec(sf.floor(sf.log(c.cast("double")) * 1e9 + 0.5)
        .cast("long")))
    val cells = df.filter(sf.col(xCol).isNotNull && sf.col(yCol).isNotNull)
      .select(sf.col(xCol).cast("string").as("x"), sf.col(yCol).cast("string").as("y"))
      .groupBy("x", "y").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // both margins + the joint sum read it
    val joint = cells.agg(sf.sum("c").cast("long").as("n"),
      lnTerm(sf.col("c")).as("__sxy"), sf.count(sf.lit(1)).as("n_cells"))
    val mx = cells.groupBy("x").agg(sf.sum("c").as("cx"))
      .agg(lnTerm(sf.col("cx")).as("__sx"), sf.count(sf.lit(1)).as("n_rows_x"))
    val my = cells.groupBy("y").agg(sf.sum("c").as("cy"))
      .agg(lnTerm(sf.col("cy")).as("__sy"), sf.count(sf.lit(1)).as("n_cols_y"))
    joint.crossJoin(sf.broadcast(mx)).crossJoin(sf.broadcast(my))
      .select({
        val lnN9 = dec(sf.floor(sf.log(sf.col("n").cast("double")) * 1e9 + 0.5)
          .cast("long"))
        val g = (sf.col("__sxy") + dec(sf.col("n")) * lnN9 -
          sf.col("__sx") - sf.col("__sy")).cast("double") * 2.0 / 1e9
        Seq(sf.col("n"), sf.col("n_rows_x"), sf.col("n_cols_y"),
          gf.roundAt(g, 6).as("g_statistic"),
          ((sf.col("n_rows_x") - 1) * (sf.col("n_cols_y") - 1)).as("df"))
      }: _*)
  }

  /** Goodman–Kruskal lambda (1954) between two categorical columns —
    * the PROPORTIONAL-REDUCTION-IN-ERROR association the χ²/V/U ladder
    * (rows 145/305/417) doesn't give: λ(y|x) = (Σ_x max_y n_xy −
    * max_y n_y)/(n − max_y n_y) reads "guessing y by x's modal class
    * cuts classification errors by this fraction" — the number a
    * rule-based router or a majority-class baseline audit actually
    * uses (U is entropy-denominated; λ is error-denominated, and can
    * be 0 under real dependence when one y class dominates — a
    * DIFFERENT, operationally honest zero). Reports λ(y|x), λ(x|y),
    * and the symmetric average-error form.
    *
    * Determinism: every max/sum is over exact integer counts; the
    * three λ are pinned integer-ratio divisions rounded 1e-6 (NULL
    * when the denominator is 0 — a single-class margin).
    *
    * Scale shape: one (x, y) cell collapse + two per-margin max
    * rollups + a one-row finish. */
  def gkLambda(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.filter(sf.col(xCol).isNotNull && sf.col(yCol).isNotNull)
      .select(sf.col(xCol).cast("string").as("x"), sf.col(yCol).cast("string").as("y"))
      .groupBy("x", "y").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // four readers
    val n = cells.agg(sf.sum("c").cast("long").as("n"))
    val sx = cells.groupBy("x").agg(sf.max("c").as("mx"), sf.sum("c").as("cx"))
      .agg(sf.sum("mx").cast("long").as("sum_max_y_given_x"),
        sf.max("cx").cast("long").as("max_x"))
    val sy = cells.groupBy("y").agg(sf.max("c").as("my"), sf.sum("c").as("cy"))
      .agg(sf.sum("my").cast("long").as("sum_max_x_given_y"),
        sf.max("cy").cast("long").as("max_y"))
    n.crossJoin(sf.broadcast(sx)).crossJoin(sf.broadcast(sy))
      .select({
        def lam(num: Column, den: Column) =
          sf.when(den > 0, gf.roundAt(num.cast("double") / den.cast("double"), 6))
        val nn = sf.col("n")
        Seq(nn.as("n"),
          lam(sf.col("sum_max_y_given_x") - sf.col("max_y"), nn - sf.col("max_y"))
            .as("lambda_y_given_x"),
          lam(sf.col("sum_max_x_given_y") - sf.col("max_x"), nn - sf.col("max_x"))
            .as("lambda_x_given_y"),
          lam(sf.col("sum_max_y_given_x") + sf.col("sum_max_x_given_y") -
            sf.col("max_y") - sf.col("max_x"),
            nn * 2 - sf.col("max_y") - sf.col("max_x")).as("lambda_symmetric"))
      }: _*)
  }

  /** Candidate-key discovery over a column list — every single column
    * and every unordered pair scored by exact distinct count vs row
    * count: `is_unique` marks the minimal candidate keys a schema
    * review or a MERGE-key audit needs, and the uniqueness ratio
    * ranks near-keys (0.999… usually means a dirty duplicate, not a
    * design choice). The discovery-side complement to row 201's
    * functional-dependency CHECK (that verifies a claimed dependency;
    * this finds the key candidates to claim).
    *
    * Determinism: exact COUNT(DISTINCT) per combo over stringified
    * columns with a \\u0001 pair separator (nulls fold to the
    * \\u0002 sentinel so NULL-bearing combos still count
    * deterministically); ratios are pinned divisions rounded 1e-6.
    *
    * Scale shape: ONE aggregation pass PER COMBO (combos ≤ C(8,2)+8 by
    * the require), each a map-side-combined distinct — deliberately
    * not a single multi-distinct agg, whose Expand would multiply the
    * scan by the combo count; at 100 TB screen wide tables with the
    * row 54 HLL sketches first and confirm the shortlist here. */
  def candidateKeys(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.size <= 8,
      s"cols must have 1..8 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, "cols must be distinct")
    def key(cs: Seq[String]) = sf.concat_ws("\u0001",
      cs.map(c => sf.coalesce(sf.col(c).cast("string"), sf.lit("\u0002"))): _*)
    val combos = cols.map(Seq(_)) ++
      (for (i <- cols.indices; j <- i + 1 until cols.size)
        yield Seq(cols(i), cols(j)))
    val base = df.select(cols.map(sf.col): _*).localCheckpoint(true)
    val n = base.count() // one exact row count, reused by every combo
    val per = combos.map { cs =>
      base.agg(sf.count_distinct(key(cs)).as("n_distinct"))
        .select(sf.lit(cs.mkString(",")).as("key_cols"),
          sf.col("n_distinct"), sf.lit(n).as("n_rows"))
    }.reduce(_.unionByName(_))
    per.select(sf.col("key_cols"), sf.col("n_distinct"), sf.col("n_rows"),
        (sf.col("n_distinct") === sf.col("n_rows")).as("is_unique"),
        sf.when(sf.col("n_rows") > 0, gf.roundAt(
          sf.col("n_distinct").cast("double") / sf.col("n_rows").cast("double"),
          6)).as("uniqueness"))
      .orderBy("key_cols")
  }

  /** Fisher's EXACT test on a 2×2 table (Fisher 1935) — the
    * small-sample gate where the χ²/G asymptotics (rows 145 + the
    * G-test) are invalid: under fixed margins the cell count is
    * hypergeometric, and the two-sided p sums P(k) over every table at
    * least as extreme (P(k) ≤ P(observed) — the standard "method of
    * small P" convention), the "greater" tail sums k ≥ observed.
    * Exactly the readout an A/B gate needs when one arm has a handful
    * of conversions and the rate test (row 399) conditions the wrong
    * way.
    *
    * Determinism: ln-factorials are EXACT PREFIX SUMS of 1e-9-snapped
    * per-integer ln longs (ln-factorial table built once via
    * [[graft.operators.StarSchema.globalPrefixSums]] — never a
    * one-task window), so every ln P(k) is an exact integer and the
    * extremeness comparison P(k) ≤ P(obs) is an exact integer
    * comparison — no float decides tail membership. Each tail mass
    * exponentiates RELATIVE to its OWN most-probable member (the
    * observed table for the two-sided tail by definition; max lnP over
    * k ≥ a for the greater tail — rescaling that one against the
    * observed table would overflow the 1e-15 long grid whenever the
    * observed count sits in the LOWER tail, since then the greater
    * tail holds tables ~e^9+ times more probable), so every term is
    * ≤ 1; terms snap to 1e-15 longs, sum in DECIMAL(38,0), and rescale
    * by exp of the tail's own anchor — pinned exp calls only, outputs
    * rounded 1e-6;
    * ln P(obs) is also reported raw (1e-9-exact) so tiny p-values
    * keep their magnitude.
    *
    * Scale shape: the table collapse is one 4-cell rollup; the
    * ln-factorial build is ONE O(n) pass (range-partitioned prefix
    * sum) and the k-domain is bounded by the smaller margin. The
    * `maxN` contract (default 1e6) prices the O(n) build honestly —
    * beyond it the χ²/G asymptotics are the right tool anyway. */
  def fisherExact(df: DataFrame, armCol: String, successCol: String,
                  maxN: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    val cells = df.filter(sf.col(armCol).isNotNull && sf.col(successCol).isNotNull)
      .select(sf.col(armCol).cast("string").as("arm"),
        sf.col(successCol).cast("boolean").as("s"))
      .groupBy("arm", "s").agg(sf.count(sf.lit(1)).as("c"))
    val arms = cells.select("arm").distinct().orderBy("arm")
      .collect().map(_.getString(0)) // 2-row contract, driver-bounded
    require(arms.length == 2,
      s"fisherExact needs exactly 2 arms, got ${arms.length}")
    val one = cells.groupBy()
      .agg(sf.sum(sf.when(sf.col("arm") === arms(0) && sf.col("s"), sf.col("c"))
          .otherwise(0L)).cast("long").as("a"),
        sf.sum(sf.when(sf.col("arm") === arms(0) && !sf.col("s"), sf.col("c"))
          .otherwise(0L)).cast("long").as("b"),
        sf.sum(sf.when(sf.col("arm") === arms(1) && sf.col("s"), sf.col("c"))
          .otherwise(0L)).cast("long").as("c"),
        sf.sum(sf.when(sf.col("arm") === arms(1) && !sf.col("s"), sf.col("c"))
          .otherwise(0L)).cast("long").as("d"))
      .localCheckpoint(true) // margins, k-domain, and finish read it
    val Row2 = one.collect()(0)
    val (a, b, c, d) =
      (Row2.getLong(0), Row2.getLong(1), Row2.getLong(2), Row2.getLong(3))
    val n = a + b + c + d
    require(n >= 1 && n <= maxN,
      s"fisherExact: n=$n outside [1, $maxN] — use the chi-squared/G " +
      "asymptotics at this scale, or raise maxN")
    val (r1, r2, c1) = (a + b, c + d, a + c)
    // ln-factorial prefix table F(0..n): F(0) = 0, F(m) = Σ_{j<=m} ln9(j)
    val Chunk = 8192L
    // n/Chunk + 1 chunks exactly — one chunk too many would make
    // sequence(start > stop) DESCEND and duplicate every j in it
    val js = spark.range(0L, n / Chunk + 1)
      .select(sf.explode(sf.sequence(sf.col("id") * Chunk,
        sf.least(sf.col("id") * Chunk + (Chunk - 1), sf.lit(n)))).as("j"))
      .filter(sf.col("j") >= 1L)
      .select(sf.col("j"),
        sf.floor(sf.log(sf.col("j").cast("double")) * 1e9 + 0.5)
          .cast("long").as("__lnj"))
    val lf = graft.operators.StarSchema
      .globalPrefixSums(js, Seq("j"), "__lnj", "f")
      .select(sf.col("j"), sf.col("f"))
      .union(spark.range(1).select(sf.lit(0L).as("j"), sf.lit(0L).as("f")))
      .localCheckpoint(true) // four k-domain attaches read it
    // margin constants F(r1)+F(r2)+F(c1)+F(c2)−F(n): a ≤5-row driver
    // lookup (margins can collide, so a map beats a pivot)
    val cmap = lf.filter(sf.col("j").isin(r1, r2, c1, n - c1, n))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lnConst = cmap(r1) + cmap(r2) + cmap(c1) + cmap(n - c1) - cmap(n)
    val kmin = math.max(0L, c1 - r2)
    val kmax = math.min(r1, c1)
    val ks = spark.range(kmin, kmax + 1).select(sf.col("id").as("k"))
    val lnp = ks
      .join(lf.select(sf.col("j").as("k"), sf.col("f").as("__f1")), "k")
      .join(lf.select((sf.lit(r1) - sf.col("j")).as("k"),
        sf.col("f").as("__f2")).filter(sf.col("k").between(kmin, kmax)), "k")
      .join(lf.select((sf.lit(c1) - sf.col("j")).as("k"),
        sf.col("f").as("__f3")).filter(sf.col("k").between(kmin, kmax)), "k")
      .join(lf.select((sf.col("j") - sf.lit(r2 - c1)).as("k"),
        sf.col("f").as("__f4")).filter(sf.col("k").between(kmin, kmax)), "k")
      .select(sf.col("k"), (sf.lit(lnConst) - sf.col("__f1") - sf.col("__f2") -
        sf.col("__f3") - sf.col("__f4")).as("__lnp9"))
      .localCheckpoint(true) // obs row + both tail sums read it
    val obsRow = lnp.filter(sf.col("k") === a).collect()
    require(obsRow.nonEmpty, s"observed k=$a missing from support [$kmin,$kmax]")
    val lnpObs = obsRow(0).getLong(1)
    // greater-tail anchor: its own most-probable member, so every
    // relative term is <= 1 (k = a is in the tail, so it's non-empty)
    val lnpMaxG = lnp.filter(sf.col("k") >= a)
      .agg(sf.max("__lnp9")).collect()(0).getLong(0)
    def rel(anchor: Long) = sf.floor(
      sf.exp((sf.col("__lnp9") - sf.lit(anchor)).cast("double") / 1e9) * 1e15 +
        0.5).cast("long")
    val tails = lnp.agg(
      sf.sum(sf.when(sf.col("__lnp9") <= lnpObs, dec(rel(lnpObs)))).as("__t2"),
      sf.sum(sf.when(sf.col("k") >= a, dec(rel(lnpMaxG)))).as("__tg"))
    val pObs = sf.exp(sf.lit(lnpObs).cast("double") / 1e9)
    val pMaxG = sf.exp(sf.lit(lnpMaxG).cast("double") / 1e9)
    tails.select(
      sf.lit(n).as("n"), sf.lit(a).as("a"), sf.lit(b).as("b"),
      sf.lit(c).as("c"), sf.lit(d).as("d"),
      gf.roundAt(pObs * (sf.col("__t2").cast("double") / 1e15), 6)
        .as("p_two_sided"),
      gf.roundAt(pMaxG * (sf.col("__tg").cast("double") / 1e15), 6)
        .as("p_greater"),
      gf.roundAt(sf.lit(lnpObs).cast("double") / 1e9, 6).as("ln_p_observed"),
      sf.when(sf.lit(b * c) > 0, gf.roundAt(
        sf.lit(a).cast("double") * sf.lit(d).cast("double") /
          (sf.lit(b).cast("double") * sf.lit(c).cast("double")), 6))
        .as("odds_ratio"))
  }

  /** Quantile-sketch accuracy certification — Spark's
    * `approx_percentile` sketch answers side by side with the EXACT
    * type-1 deciles and the realized absolute rank error: the
    * pre-flight check before trusting a sketch config at 100 TB
    * (where exact quantiles are a full sort and the sketch is the
    * only affordable tool — but its `accuracy` knob should be
    * CERTIFIED on a sample first, not assumed). No DuckDB twin exists
    * for Spark's sketch by construction, so this is a spec-certified
    * component: the suite pins the error bound on staged
    * distributions.
    *
    * Determinism: Spark's approx_percentile is a deterministic
    * algorithm of the data and accuracy parameter (no RNG); the exact
    * side is the row 505 integer order-statistic; errors are pinned
    * differences.
    *
    * Scale shape: the sketch is one combinable pass; the exact side
    * is the row 505 prefix-sum machinery — both linear, no sort. */
  def sketchQuantileAudit(df: DataFrame, valueCol: String,
                          accuracy: Int = 10000): DataFrame = {
    require(accuracy >= 100, s"accuracy must be >= 100, got $accuracy")
    val vals = df.filter(sf.col(valueCol).isNotNull)
      .select(sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
        .as("v4"))
      .localCheckpoint(true) // sketch + exact side read it
    val sk = vals.agg(sf.expr(
      s"approx_percentile(v4, array(${(1 to 9).map(_ / 10.0).mkString(", ")})," +
        s" $accuracy)").as("__aq"))
    val counts = vals.groupBy("v4").agg(sf.count(sf.lit(1)).as("cnt"))
    val cum = graft.operators.StarSchema
      .globalPrefixSums(counts, Seq("v4"), "cnt", "__gc")
    val tot = cum.agg(sf.max("__gc").cast("long").as("__n"))
    val spark = df.sparkSession
    import spark.implicits._
    val ps = (1 to 9).map(d => (d, d.toLong)).toDF("decile", "__d")
    val exact = cum.crossJoin(sf.broadcast(tot)).crossJoin(sf.broadcast(ps))
      .filter(sf.col("__gc") * 10 >= sf.col("__d") * sf.col("__n"))
      .groupBy("decile").agg(sf.min("v4").as("__ex4"))
    exact.crossJoin(sf.broadcast(sk))
      .select(sf.col("decile"),
        gf.roundAt(sf.col("__ex4").cast("double") / 1e4, 4).as("exact_q"),
        gf.roundAt(sf.element_at(sf.col("__aq"), sf.col("decile"))
          .cast("double") / 1e4, 4).as("sketch_q"),
        gf.roundAt(sf.abs(sf.element_at(sf.col("__aq"), sf.col("decile"))
          - sf.col("__ex4")).cast("double") / 1e4, 4).as("abs_err"))
      .orderBy("decile")
  }

  /** Order-to-ship lag profile + temporal-integrity violations — the
    * cross-table DATE sanity check beside [[orderReconciliation]]'s
    * money check: every line's ship lag (ship day − order day) in
    * week buckets, with NEGATIVE buckets flagged as violations (a
    * line shipped before its order exists is impossible history —
    * clock skew, bad backfill, or key corruption that row 61's
    * FK-orphan audit, which only checks existence, walks right past).
    *
    * Determinism: lags are exact epoch-day integer differences;
    * week buckets are floor(lag/7.0) — pinned double floor, exact on
    * the small-integer lag domain, identical in both engines (integer
    * `div` truncates toward zero and would fold −6..−1 into bucket 0
    * with the violations); shares are pinned divisions 1e-6.
    *
    * Scale shape: one keyed header join (lines shuffle once, on the
    * order key they're clustered by) + one combinable bucket rollup
    * over the bounded lag-week domain + a broadcast total. */
  def orderShipLag(lines: DataFrame, headers: DataFrame): DataFrame = {
    val l = lines.filter(sf.col("l_orderkey").isNotNull &&
        sf.col("l_shipdate").isNotNull)
      .select(sf.col("l_orderkey"),
        sf.expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
          .as("__sd"))
    val o = headers.filter(sf.col("o_orderkey").isNotNull &&
        sf.col("o_orderdate").isNotNull)
      .select(sf.col("o_orderkey"),
        sf.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("__od"))
    val lagged = l.join(o, sf.col("l_orderkey") === sf.col("o_orderkey"))
      .select(sf.floor((sf.col("__sd") - sf.col("__od")).cast("double") / 7.0)
        .cast("long").as("lag_weeks"))
    val buckets = lagged.groupBy("lag_weeks")
      .agg(sf.count(sf.lit(1)).as("n_lines"))
      .localCheckpoint(true) // total + the share pass read it
    val tot = buckets.agg(sf.sum("n_lines").cast("long").as("__tn"))
    buckets.crossJoin(sf.broadcast(tot))
      .select(sf.col("lag_weeks"), sf.col("n_lines"),
        gf.roundAt(sf.col("n_lines").cast("double") /
          sf.col("__tn").cast("double"), 6).as("share"),
        (sf.col("lag_weeks") < 0).as("is_violation"))
      .orderBy("lag_weeks")
  }

  /** Chi-squared CELL diagnostics (Pearson residuals + Haberman 1973
    * adjusted residuals) over the full category grid — the post-hoc
    * row 145's omnibus test needs: χ² says THE TABLE is dependent;
    * the standardized cells say WHICH combinations drive it (adjusted
    * residuals are asymptotically N(0,1), so |r| > 2 reads like a
    * z-score), including structurally-interesting EMPTY cells the
    * observed-cell collapse never materializes.
    *
    * Determinism: observed counts and margins are exact integers;
    * expected = r·c/n, both residuals are ONE pinned double assembly
    * each (√ IEEE-exact) rounded 1e-6; a margin equal to n (single
    * row/column — zero adjusted denominator) reports NULL adjusted.
    *
    * Scale shape: one cell collapse + two margin rollups + a
    * margin-domain broadcast cross (R×C grid rows, never row-scale)
    * + one left attach of the observed cells. */
  def chiSquaredCells(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.filter(sf.col(xCol).isNotNull && sf.col(yCol).isNotNull)
      .select(sf.col(xCol).cast("string").as("x"),
        sf.col(yCol).cast("string").as("y"))
      .groupBy("x", "y").agg(sf.count(sf.lit(1)).as("o"))
      .localCheckpoint(true) // margins + the grid attach read it
    val rx = cells.groupBy("x").agg(sf.sum("o").cast("long").as("r"))
    val cy = cells.groupBy("y").agg(sf.sum("o").cast("long").as("c"))
    val tot = cells.agg(sf.sum("o").cast("long").as("n"))
    rx.crossJoin(sf.broadcast(cy)).crossJoin(sf.broadcast(tot))
      .join(cells, Seq("x", "y"), "left")
      .select({
        val o = sf.coalesce(sf.col("o"), sf.lit(0L)).cast("double")
        val n = sf.col("n").cast("double")
        val rd = sf.col("r").cast("double")
        val cd = sf.col("c").cast("double")
        val e = rd * cd / n
        val pearson = (o - e) / sf.sqrt(e)
        val adjDen = (sf.lit(1.0) - rd / n) * (sf.lit(1.0) - cd / n)
        Seq(sf.col("x"), sf.col("y"),
          sf.coalesce(sf.col("o"), sf.lit(0L)).as("observed"),
          gf.roundAt(e, 6).as("expected"),
          gf.roundAt(pearson, 6).as("pearson_resid"),
          sf.when(adjDen > 0.0, gf.roundAt(pearson / sf.sqrt(adjDen), 6))
            .as("adjusted_resid"))
      }: _*)
      .orderBy("x", "y")
  }

  /** Decile-shift table — WHERE a numeric distribution moved between
    * the first and second half of the time range: exact type-1
    * deciles of both halves side by side with their differences. The
    * LOCALIZATION readout the drift ladder lacks: row 119's PSI bins
    * and sums, row 144's KS takes a max, row 300's Wasserstein
    * totals — none says "the p90 moved $40 while the median stood
    * still", which is the sentence a drift review actually wants.
    *
    * Determinism: values snap to the 1e-4 grid; each decile is the
    * EXACT type-1 order statistic (smallest value whose cumulative
    * count ≥ ⌈p·n⌉ — pure integer tests on exact cumulative counts);
    * the epoch-midpoint cut is the row 484 integer convention.
    *
    * Scale shape: one (half, value) collapse, per-half cumulative
    * counts via ONE row-135 range-partitioned prefix sum (minus a
    * broadcast half-0 offset — never a one-task window over the
    * value domain), then a 9-row threshold broadcast + a combinable
    * min per (half, decile). */
  def decileShift(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val rows = df.filter(sf.col(tsCol).isNotNull && sf.col(valueCol).isNotNull)
      .select(sf.unix_micros(sf.col(tsCol).cast("timestamp")).as("us"),
        sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
          .as("v4"))
      .localCheckpoint(true) // bounds + the half split read it
    val cut = rows.agg(
      sf.expr("CAST((min(us) + max(us)) DIV 2 AS BIGINT)").as("__cut"))
    val halves = rows.crossJoin(sf.broadcast(cut))
      .select((sf.col("us") >= sf.col("__cut")).cast("int").as("h"),
        sf.col("v4"))
      .groupBy("h", "v4").agg(sf.count(sf.lit(1)).as("cnt"))
    val cum = graft.operators.StarSchema
      .globalPrefixSums(halves, Seq("h", "v4"), "cnt", "__gc")
      .localCheckpoint(true) // totals + both decile attaches read it
    val totals = cum.groupBy("h").agg(sf.max("__gc").cast("long").as("__hi"),
        sf.sum("cnt").cast("long").as("__n"))
      .select(sf.col("h"), sf.col("__n"),
        (sf.col("__hi") - sf.col("__n")).as("__off")) // rows before this half
    val spark = df.sparkSession
    import spark.implicits._
    val ps = (1 to 9).map(d => (d, d.toLong)).toDF("decile", "__d")
    val quants = cum.join(sf.broadcast(totals), "h")
      .crossJoin(sf.broadcast(ps))
      // type-1: smallest v with within-half cum >= ceil(p*n) = ceil(d*n/10)
      .filter((sf.col("__gc") - sf.col("__off")) * 10 >=
        sf.col("__d") * sf.col("__n"))
      .groupBy("h", "decile").agg(sf.min("v4").as("q4"))
    val q0 = quants.filter(sf.col("h") === 0)
      .select(sf.col("decile"), sf.col("q4").as("__q0"))
    val q1 = quants.filter(sf.col("h") === 1)
      .select(sf.col("decile"), sf.col("q4").as("__q1"))
    q0.join(q1, Seq("decile"), "full_outer")
      .select(sf.col("decile"),
        gf.roundAt(sf.col("__q0").cast("double") / 1e4, 4).as("q_first_half"),
        gf.roundAt(sf.col("__q1").cast("double") / 1e4, 4).as("q_second_half"),
        gf.roundAt((sf.col("__q1") - sf.col("__q0")).cast("double") / 1e4, 4)
          .as("shift"))
      .orderBy("decile")
  }

  /** Empirical-Bayes rate shrinkage (Beta–Binomial method of moments;
    * Robbins 1956 program, the Efron–Morris "batting average"
    * estimator) — per-group success rates pulled toward the corpus
    * prior in proportion to their evidence: a 1/2 supplier return
    * rate from two shipments should NOT outrank a 120/400 one, and
    * raw rates (or row 312's per-group Wilson bounds, which widen but
    * don't RANK) do exactly that. Fit Beta(α, β) by moments on the
    * observed rate distribution; shrunken rate = (s + α)/(n + α + β).
    *
    * Determinism: per-group rates snap to the 1e-6 grid, so the
    * moment sums are exact DECIMAL(38,0) integers; α, β and each
    * shrunken rate are ONE pinned double assembly rounded 1e-6; a
    * degenerate fit (zero or over-dispersed variance ≥ μ(1−μ), where
    * the Beta moment system has no solution) reports NULL prior and
    * NULL shrunken rates — no silent fallback.
    *
    * Scale shape: one combinable per-group rollup + a one-row moment
    * finish broadcast back over the groups — the group table shuffles
    * once. */
  def ebShrinkage(df: DataFrame, groupCol: String,
                  successCol: String): DataFrame = {
    val per = df.filter(sf.col(groupCol).isNotNull && sf.col(successCol).isNotNull)
      .groupBy(sf.col(groupCol).as("grp"))
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(sf.col(successCol).cast("boolean").cast("long")).cast("long")
          .as("successes"))
      .withColumn("__p6", sf.floor(sf.col("successes").cast("double") /
        sf.col("n").cast("double") * 1e6 + 0.5).cast("long"))
      .localCheckpoint(true) // moment fit + the shrink pass read it
    val fit = per.agg(sf.count(sf.lit(1)).as("__g"),
        sf.sum(dec(sf.col("__p6"))).as("__sp"),
        sf.sum(dec(sf.col("__p6")) * dec(sf.col("__p6"))).as("__spp"))
    per.crossJoin(sf.broadcast(fit))
      .select({
        val g = sf.col("__g").cast("double")
        val mu = sf.col("__sp").cast("double") / g / 1e6
        val v = (dec(sf.col("__g")) * sf.col("__spp") -
          sf.col("__sp") * sf.col("__sp")).cast("double") / (g * g) / 1e12
        val common = mu * (sf.lit(1.0) - mu) / v - 1.0
        val alpha = mu * common
        val beta = (sf.lit(1.0) - mu) * common
        val ok = sf.col("__g") >= 2 && v > 0.0 &&
          v < mu * (sf.lit(1.0) - mu)
        val shrunken = (sf.col("successes").cast("double") + alpha) /
          (sf.col("n").cast("double") + alpha + beta)
        Seq(sf.col("grp").as(groupCol), sf.col("n"), sf.col("successes"),
          gf.roundAt(sf.col("__p6").cast("double") / 1e6, 6).as("raw_rate"),
          sf.when(ok, gf.roundAt(alpha, 6)).as("prior_alpha"),
          sf.when(ok, gf.roundAt(beta, 6)).as("prior_beta"),
          sf.when(ok, gf.roundAt(shrunken, 6)).as("shrunken_rate"))
      }: _*)
      .orderBy(groupCol)
  }

  /** Fact-to-header reconciliation audit — recompute each order's
    * total from its line items with EXACT integer arithmetic
    * (extended_price_cents · (100 − discount_pct) · (100 + tax_pct),
    * summed in 10⁻⁶-dollar units) and rank the worst header drifts:
    * the cross-table consistency check row 61's FK-orphan audit
    * (existence) and row 207's schema contract (shape) don't make —
    * the books must ADD UP, and a header that disagrees with its own
    * lines is silent revenue corruption no single-table profile sees.
    *
    * Determinism: all three factors snap to their natural 2-decimal
    * grids, so the recomputed total is an exact integer; the drift
    * ordering (|diff| desc, order key asc) is integer-decided;
    * display divisions are pinned 1e-2/1e-6.
    *
    * Scale shape: one combinable per-order line rollup + one keyed
    * header join + TakeOrdered top-K — lines shuffle once, on the
    * order key they're already clustered by. */
  def orderReconciliation(lines: DataFrame, headers: DataFrame,
                          topK: Int = 20): DataFrame = {
    require(topK >= 1, s"orderReconciliation: topK must be >= 1, got $topK")
    def c2(c: Column) = sf.floor(c.cast("double") * 100 + 0.5).cast("long")
    val rec = lines.filter(sf.col("l_orderkey").isNotNull &&
        sf.col("l_extendedprice").isNotNull && sf.col("l_discount").isNotNull &&
        sf.col("l_tax").isNotNull)
      .select(sf.col("l_orderkey"),
        (dec(c2(sf.col("l_extendedprice"))) *
          dec(sf.lit(100L) - c2(sf.col("l_discount"))) *
          dec(sf.lit(100L) + c2(sf.col("l_tax")))).as("__amt6"))
      .groupBy("l_orderkey")
      .agg(sf.sum("__amt6").cast("long").as("__rec6"))
    val joined = headers.filter(sf.col("o_orderkey").isNotNull &&
        sf.col("o_totalprice").isNotNull)
      .select(sf.col("o_orderkey"), (c2(sf.col("o_totalprice")) * 10000L)
        .as("__hdr6"))
      .join(rec, sf.col("o_orderkey") === sf.col("l_orderkey"))
      .withColumn("__diff6", sf.col("__rec6") - sf.col("__hdr6"))
    joined.orderBy(sf.abs(sf.col("__diff6")).desc, sf.col("o_orderkey"))
      .limit(topK)
      .select(sf.col("o_orderkey"),
        gf.roundAt(sf.col("__hdr6").cast("double") / 1e6, 2).as("header_total"),
        gf.roundAt(sf.col("__rec6").cast("double") / 1e6, 6)
          .as("recomputed_total"),
        gf.roundAt(sf.col("__diff6").cast("double") / 1e6, 6).as("diff"))
  }

  /** Deming (orthogonal, λ = 1) regression — the method-comparison
    * LINE beside row 381's Bland–Altman limits and row 374's Lin
    * CCC: ordinary OLS (rows 181/418) assumes x is error-free, so
    * regressing instrument B on instrument A understates the slope
    * (attenuation); Deming splits the error between both axes —
    * slope = (S_yy − S_xx + √((S_yy − S_xx)² + 4S_xy²)) / (2S_xy),
    * the closed form at equal error variances — and answers the
    * calibration question ("is B = A, or B = 1.07·A − 3?") that the
    * agreement indices only score.
    *
    * Determinism: values snap to the 1e-4 grid; the six moment sums
    * are exact DECIMAL(38,0); slope/intercept are ONE pinned double
    * assembly each (√ IEEE-exact) rounded 1e-6. S_xy = 0 (no linear
    * association — the slope is undefined/vertical) or n < 2 → NULL.
    *
    * Scale shape: one map-side-combined six-sum rollup — a single
    * scan and a one-row finish, the row 418 plan minus one column. */
  def demingRegression(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def g4(name: String) =
      sf.floor(sf.col(name).cast("double") * 1e4 + 0.5).cast("long")
    val rows = df.filter(sf.col(xCol).isNotNull && sf.col(yCol).isNotNull)
      .select(g4(xCol).as("x"), g4(yCol).as("y"))
    rows.agg(
        sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("x"))).as("sx"), sf.sum(dec(sf.col("y"))).as("sy"),
        sf.sum(dec(sf.col("x")) * dec(sf.col("x"))).as("sxx"),
        sf.sum(dec(sf.col("y")) * dec(sf.col("y"))).as("syy"),
        sf.sum(dec(sf.col("x")) * dec(sf.col("y"))).as("sxy"))
      .select({
        val n = dec(sf.col("n"))
        val cxx = (n * sf.col("sxx") - sf.col("sx") * sf.col("sx")).cast("double")
        val cyy = (n * sf.col("syy") - sf.col("sy") * sf.col("sy")).cast("double")
        val cxy = (n * sf.col("sxy") - sf.col("sx") * sf.col("sy")).cast("double")
        val slope = (cyy - cxx +
          sf.sqrt((cyy - cxx) * (cyy - cxx) + sf.lit(4.0) * cxy * cxy)) /
          (sf.lit(2.0) * cxy)
        val intercept = (sf.col("sy").cast("double") -
          slope * sf.col("sx").cast("double")) /
          sf.col("n").cast("double") / 1e4
        val ok = sf.col("n") >= 2 && cxy =!= 0.0
        Seq(sf.col("n"),
          sf.when(ok, gf.roundAt(slope, 6)).as("slope"),
          sf.when(ok, gf.roundAt(intercept, 6)).as("intercept"))
      }: _*)
  }

  /** EXACT Bayesian A/B readout (the Beta–Binomial conjugate model;
    * closed-form P(B > A) after Cook 2005 / Miller 2015's finite
    * sum) — the DECISION-ORIENTED companion to row 369's frequentist
    * two-proportion panel and row 250's SPRT: under uniform Beta(1,1)
    * priors the posteriors are Beta(1+s, 1+f), and P(p_B > p_A) =
    * Σ_{i<α_B} B(α_A+i, β_A+β_B) / ((β_B+i)·B(1+i, β_B)·B(α_A, β_A))
    * is an EXACT finite sum — the "probability B is actually better"
    * stakeholders ask for, with no normal approximation at any n.
    *
    * Determinism: every Beta has INTEGER arguments, so every ln-term
    * is exact integer arithmetic on the row-430 prefix-sum
    * ln-factorial table (lnΓ(n) = F(n−1)) plus one per-integer ln
    * lookup — no float enters until the single anchored-max
    * exponentiation (terms ≤ 1 by the row-430 anchor rule, 1e-15
    * snap, DECIMAL(38,0) sum, one pinned exp); posterior means are
    * pinned integer-ratio divisions; outputs 1e-6.
    *
    * Scale shape: one 4-cell rollup + the O(n) prefix build (range-
    * partitioned, `maxN`-priced) + an α_B-sized term domain with four
    * table attaches — the row 430 plan on a different sum. */
  def bayesianAB(df: DataFrame, armCol: String, successCol: String,
                 maxN: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    val cells = df.filter(sf.col(armCol).isNotNull && sf.col(successCol).isNotNull)
      .select(sf.col(armCol).cast("string").as("arm"),
        sf.col(successCol).cast("boolean").as("s"))
      .groupBy("arm", "s").agg(sf.count(sf.lit(1)).as("c"))
    val arms = cells.select("arm").distinct().orderBy("arm")
      .collect().map(_.getString(0)) // 2-row contract, driver-bounded
    require(arms.length == 2,
      s"bayesianAB needs exactly 2 arms, got ${arms.length}")
    val one = cells.groupBy()
      .agg(sf.sum(sf.when(sf.col("arm") === arms(0) && sf.col("s"), sf.col("c"))
          .otherwise(0L)).cast("long").as("sa"),
        sf.sum(sf.when(sf.col("arm") === arms(0) && !sf.col("s"), sf.col("c"))
          .otherwise(0L)).cast("long").as("fa"),
        sf.sum(sf.when(sf.col("arm") === arms(1) && sf.col("s"), sf.col("c"))
          .otherwise(0L)).cast("long").as("sb"),
        sf.sum(sf.when(sf.col("arm") === arms(1) && !sf.col("s"), sf.col("c"))
          .otherwise(0L)).cast("long").as("fb"))
      .collect()(0)
    val (sa, fa, sb, fb) =
      (one.getLong(0), one.getLong(1), one.getLong(2), one.getLong(3))
    val n = sa + fa + sb + fb
    require(n >= 1 && n <= maxN,
      s"bayesianAB: n=$n outside [1, $maxN] — use the normal " +
      "approximation at this scale, or raise maxN")
    val (aA, bA, aB, bB) = (1L + sa, 1L + fa, 1L + sb, 1L + fb)
    val top = n + 4 // largest gamma argument is aA+bA+bB+aB = n+4
    val Chunk = 8192L
    val js = spark.range(0L, top / Chunk + 1)
      .select(sf.explode(sf.sequence(sf.col("id") * Chunk,
        sf.least(sf.col("id") * Chunk + (Chunk - 1), sf.lit(top)))).as("j"))
      .filter(sf.col("j") >= 1L)
      .select(sf.col("j"),
        sf.floor(sf.log(sf.col("j").cast("double")) * 1e9 + 0.5)
          .cast("long").as("__lnj"))
      .localCheckpoint(true) // the prefix build + the per-i ln read it
    val lf = graft.operators.StarSchema
      .globalPrefixSums(js, Seq("j"), "__lnj", "f")
      .select(sf.col("j"), sf.col("f"))
      .union(spark.range(1).select(sf.lit(0L).as("j"), sf.lit(0L).as("f")))
      .localCheckpoint(true) // four term attaches + constants read it
    // F(x) = ln x! = ln Gamma(x+1); constants outside the i-sum
    val cmap = lf.filter(sf.col("j").isin(
        bA + bB - 1, aA - 1, bA - 1, aA + bA - 1, bB - 1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lnConst = cmap(bA + bB - 1) - cmap(bB - 1) -
      (cmap(aA - 1) + cmap(bA - 1) - cmap(aA + bA - 1))
    val terms = spark.range(0L, aB).select(sf.col("id").as("i"))
      .join(lf.select((sf.col("j") - (aA - 1)).as("i"), sf.col("f").as("__f1"))
        .filter(sf.col("i").between(0L, aB - 1)), "i")
      .join(lf.select((sf.col("j") - (aA + bA + bB - 1)).as("i"),
        sf.col("f").as("__f2")).filter(sf.col("i").between(0L, aB - 1)), "i")
      .join(lf.select(sf.col("j").as("i"), sf.col("f").as("__f3"))
        .filter(sf.col("i").between(0L, aB - 1)), "i")
      .join(lf.select((sf.col("j") - bB).as("i"), sf.col("f").as("__f4"))
        .filter(sf.col("i").between(0L, aB - 1)), "i")
      .join(js.select((sf.col("j") - bB).as("i"), sf.col("__lnj").as("__lbi"))
        .filter(sf.col("i").between(0L, aB - 1)), "i")
      .select(sf.col("i"), (sf.lit(lnConst) + sf.col("__f1") - sf.col("__f2") -
        sf.col("__lbi") - (sf.col("__f3") - sf.col("__f4"))).as("__t9"))
      .localCheckpoint(true) // anchor + the sum read it
    val anchor = terms.agg(sf.max("__t9")).collect()(0).getLong(0)
    val rel = sf.floor(
      sf.exp((sf.col("__t9") - sf.lit(anchor)).cast("double") / 1e9) * 1e15 +
        0.5).cast("long")
    val summed = terms.agg(sf.sum(dec(rel)).as("__ts"))
    val pAnchor = sf.exp(sf.lit(anchor).cast("double") / 1e9)
    summed.select(
      sf.lit(sa + fa).as("n_a"), sf.lit(sa).as("succ_a"),
      sf.lit(sb + fb).as("n_b"), sf.lit(sb).as("succ_b"),
      gf.roundAt(sf.lit(aA).cast("double") / (aA + bA).toDouble, 6)
        .as("posterior_mean_a"),
      gf.roundAt(sf.lit(aB).cast("double") / (aB + bB).toDouble, 6)
        .as("posterior_mean_b"),
      gf.roundAt(pAnchor * (sf.col("__ts").cast("double") / 1e15), 6)
        .as("p_b_beats_a"))
  }

  /** Two-way intraclass correlations ICC(2,1) and ICC(3,1) (Shrout &
    * Fleiss 1979) on a complete subject × rater table — the members
    * the one-way row 373 ICC(1) can't give: two-way crossed designs
    * separate RATER variance from error, so ICC(2,1) (raters random —
    * generalizes to new raters) and ICC(3,1) (raters fixed —
    * consistency of THESE raters) bracket the reliability that ICC(1)
    * blurs into one number. Cells are per-(subject, rater) means;
    * only subjects rated by EVERY rater enter (the crossed-design
    * contract — an incomplete row would corrupt all three mean
    * squares).
    *
    * Determinism: cell means snap to the 1e-6 grid, so T, Q, ΣRᵢ²,
    * ΣCⱼ² are exact integers (DECIMAL(38,0)); the MS and ICC chain is
    * ONE pinned double assembly rounded 1e-6 (MS displayed in value²
    * units), with NULL inference when n < 2, variance is degenerate,
    * or a denominator is 0.
    *
    * Scale shape: one (subject, rater) rollup + a completeness
    * semi-filter + three combinable margin rollups and a one-row
    * finish; the rater domain is bounded (k collected once). */
  def iccTwoWay(df: DataFrame, subjectCol: String, raterCol: String,
                valueCol: String): DataFrame = {
    val cells = df.filter(sf.col(subjectCol).isNotNull &&
        sf.col(raterCol).isNotNull && sf.col(valueCol).isNotNull)
      .groupBy(sf.col(subjectCol).as("s"), sf.col(raterCol).as("r"))
      .agg(sf.sum(sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5)
          .cast("long")).as("__sv"),
        sf.count(sf.lit(1)).as("__nv"))
      .select(sf.col("s"), sf.col("r"),
        sf.floor(sf.col("__sv").cast("double") / sf.col("__nv").cast("double")
          / 1e4 * 1e6 + 0.5).cast("long").as("x"))
      .localCheckpoint(true) // k + completeness + margins read it
    val k = cells.select("r").distinct().count() // bounded rater domain
    require(k >= 2, s"iccTwoWay: need >= 2 raters, got $k")
    val complete = cells.groupBy("s").agg(sf.count(sf.lit(1)).as("__c"))
      .filter(sf.col("__c") === k).select("s")
    val kept = cells.join(complete, "s")
      .localCheckpoint(true) // three margin rollups read it
    val rows = kept.groupBy("s").agg(sf.sum("x").cast("long").as("ri"))
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("ri")) * dec(sf.col("ri"))).as("sr2"))
    val colsM = kept.groupBy("r").agg(sf.sum("x").cast("long").as("cj"))
      .agg(sf.sum(dec(sf.col("cj")) * dec(sf.col("cj"))).as("sc2"))
    val base = kept.agg(sf.sum("x").cast("long").as("t"),
      sf.sum(dec(sf.col("x")) * dec(sf.col("x"))).as("q"))
    rows.crossJoin(sf.broadcast(colsM)).crossJoin(sf.broadcast(base))
      .select({
        val n = sf.col("n").cast("double")
        val kd = k.toDouble
        val td = sf.col("t").cast("double")
        val corr = td * td / (n * kd)
        val ssr = sf.col("sr2").cast("double") / kd - corr
        val ssc = sf.col("sc2").cast("double") / n - corr
        val sst = sf.col("q").cast("double") - corr
        val sse = sst - ssr - ssc
        val msr = ssr / (n - 1.0)
        val msc = ssc / (kd - 1.0)
        val mse = sse / ((n - 1.0) * (kd - 1.0))
        val den21 = msr + sf.lit(kd - 1.0) * mse + sf.lit(kd) * (msc - mse) / n
        val den31 = msr + sf.lit(kd - 1.0) * mse
        // nest the guards: the n >= 2 condition is evaluated eagerly,
        // but every /(n-1) sits in its lazy VALUE branch
        def ok(c: Column) = sf.when(sf.col("n") >= 2, c)
        Seq(sf.col("n").as("n_subjects"), sf.lit(k).as("k_raters"),
          ok(gf.roundAt(msr / 1e12, 6)).as("msr"),
          ok(gf.roundAt(msc / 1e12, 6)).as("msc"),
          ok(gf.roundAt(mse / 1e12, 6)).as("mse"),
          ok(sf.when(den21 =!= 0.0, gf.roundAt((msr - mse) / den21, 6)))
            .as("icc21"),
          ok(sf.when(den31 =!= 0.0, gf.roundAt((msr - mse) / den31, 6)))
            .as("icc31"))
      }: _*)
  }

  /** Histogram best-split scan (the CART regression stump on GBDT
    * histogram bins — Breiman et al. 1984 split criterion, LightGBM/
    * XGBoost-hist candidate discretization): for every feature, the
    * bin boundary maximizing the variance-reduction gain S_L²/n_L +
    * S_R²/n_R − S²/n against the label — the exact feature-ranking /
    * first-tree-node scan ("which column explains the label, and
    * where does it switch") that correlation (row 117) can't answer
    * for non-linear, threshold-shaped effects.
    *
    * Determinism: labels snap to the 1e-4 grid; per-bin (n, Σy) are
    * exact integers, cumulated over the BOUNDED bin domain; each
    * boundary's gain is ONE pinned double assembly snapped to a 1e-6
    * long, so the arg-max (gain desc, bin asc) is integer-decided;
    * thresholds replay the row 116 bin-edge arithmetic. Complete-case
    * rows; a constant feature (or no valid boundary with both sides
    * non-empty) reports NULL.
    *
    * Scale shape: one bounds rollup + ONE map-only melt to (feature,
    * bin, y) + a combinable (feature, bin) rollup; everything after
    * runs on the features × nBins domain (cumulative window PER
    * FEATURE over ≤ nBins rows, broadcast totals, domain-sized
    * arg-max) — raw rows shuffle once, as bin cells. */
  def bestSplits(df: DataFrame, labelCol: String, featureCols: Seq[String],
                 nBins: Int = 255): DataFrame = {
    require(featureCols.nonEmpty && nBins >= 2,
      "bestSplits: need features and nBins >= 2")
    import org.apache.spark.sql.expressions.Window
    val rows = df.filter((sf.col(labelCol) +: featureCols.map(sf.col))
        .map(_.isNotNull).reduce(_ && _))
      .select(sf.floor(sf.col(labelCol).cast("double") * 1e4 + 0.5).cast("long")
        .as("__y") +: featureCols.zipWithIndex.map {
          case (c, i) => sf.col(c).cast("double").as(s"__f$i") }: _*)
      .localCheckpoint(true) // bounds + melt read it
    val aggs = featureCols.indices.flatMap(i => Seq(
      sf.min(s"__f$i").as(s"__lo$i"), sf.max(s"__f$i").as(s"__hi$i")))
    val bounds = rows.agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true) // melt + threshold finish read it
    def binOf(i: Int) = sf.when(sf.col(s"__hi$i") > sf.col(s"__lo$i"),
      sf.least(sf.greatest(sf.floor((sf.col(s"__f$i") - sf.col(s"__lo$i")) /
        (sf.col(s"__hi$i") - sf.col(s"__lo$i")) * nBins), sf.lit(0L)),
        sf.lit(nBins - 1L))).otherwise(0L)
    val cells = rows.crossJoin(sf.broadcast(bounds))
      .select(sf.col("__y"), sf.explode(sf.array(featureCols.zipWithIndex.map {
        case (c, i) => sf.struct(sf.lit(c).as("f"), binOf(i).cast("long")
          .as("bin")) }: _*)).as("__fb"))
      .groupBy(sf.col("__fb.f").as("f"), sf.col("__fb.bin").as("bin"))
      .agg(sf.count(sf.lit(1)).as("nb"), sf.sum(dec(sf.col("__y"))).as("sb"))
    val wc = Window.partitionBy("f").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cells.groupBy("f")
      .agg(sf.sum("nb").cast("long").as("nt"), sf.sum("sb").as("st"))
    val gains = cells
      .withColumn("nl", sf.sum("nb").over(wc).cast("long"))
      .withColumn("sl", sf.sum("sb").over(wc))
      .join(sf.broadcast(tot), "f")
      .filter(sf.col("bin") < (nBins - 1) && sf.col("nl") > 0 &&
        sf.col("nt") > sf.col("nl"))
      .select(sf.col("f"), sf.col("bin"), sf.col("nl"), sf.col("nt"), {
        def sq(s: Column, n: Column) =
          s.cast("double") * s.cast("double") / n.cast("double")
        val gd = (sq(sf.col("sl"), sf.col("nl")) +
          sq(sf.col("st") - sf.col("sl"), sf.col("nt") - sf.col("nl")) -
          sq(sf.col("st"), sf.col("nt"))) / 1e8
        sf.floor(gd * 1e6 + 0.5).cast("long").as("gain6")
      })
    val wr = Window.partitionBy("f")
      .orderBy(sf.col("gain6").desc, sf.col("bin"))
    val best = gains.withColumn("__rn", sf.row_number().over(wr))
      .filter(sf.col("__rn") === 1)
      .select("f", "bin", "nl", "gain6")
    val thresholds = featureCols.zipWithIndex.map { case (c, i) =>
      bounds.select(sf.lit(c).as("f"), sf.col(s"__lo$i").as("__lo"),
        sf.col(s"__hi$i").as("__hi")) }.reduce(_ union _)
    val all = featureCols.zipWithIndex.map { case (c, _) =>
      bounds.select(sf.lit(c).as("f")) }.reduce(_ union _)
    all.join(best, Seq("f"), "left")
      .join(thresholds, Seq("f"), "left")
      .join(sf.broadcast(tot), Seq("f"), "left")
      .select(sf.col("f").as("feature"), sf.col("nt").as("n_rows"),
        sf.col("bin").as("best_bin"),
        sf.when(sf.col("bin").isNotNull, gf.roundAt(sf.col("__lo") +
          (sf.col("bin") + 1).cast("double") *
            ((sf.col("__hi") - sf.col("__lo")) / nBins), 6)).as("threshold"),
        sf.col("nl").as("n_left"),
        (sf.col("nt") - sf.col("nl")).as("n_right"),
        sf.when(sf.col("gain6").isNotNull,
          gf.roundAt(sf.col("gain6").cast("double") / 1e6, 6)).as("gain"))
      .orderBy("feature")
  }

  /** HBOS — histogram-based outlier score (Goldstein & Dengel 2012)
    * over a numeric column list: each feature gets a fixed-width
    * histogram (the row 116 binning), a row's score is
    * Σ_f ln(maxcount_f / count_f(bin_f(row))) — high where the row
    * sits in thin bins on many features at once — and the `topK`
    * highest-scoring rows come back. The DETERMINISTIC, assumption-
    * free member of the outlier ladder: rows 126/386/415/441 are
    * per-group univariate; HBOS is the standard multivariate screen
    * that needs no distance metric, no iterations and no RNG
    * (unlike isolation forests), and its density product is exactly
    * the naive-Bayes independence view of outlierness.
    *
    * Determinism: bin membership replays the row 116 double-op order
    * against data-derived [min, max] per feature (constant features
    * collapse to bin 0); per-bin counts are exact; the score is an
    * EXACT INTEGER sum of 1e-9-snapped ln longs, so the top-K order
    * (score desc, key asc) is integer-decided; display score rounds
    * 1e-6. Complete-case rows only (a NULL anywhere drops the row —
    * scores must sum over the same features for every row).
    *
    * Scale shape: one bounds rollup + ONE map-only explode to
    * (row, feature, bin) + a broadcast join against the features ×
    * nBins count table + one combinable per-key sum + TakeOrdered
    * top-K — no shuffle carries more than the melted row stream. */
  def hbosOutliers(df: DataFrame, keyCol: String, featureCols: Seq[String],
                   nBins: Int = 20, topK: Int = 20): DataFrame = {
    require(featureCols.nonEmpty && nBins >= 2 && topK >= 1,
      s"hbosOutliers: need features, nBins >= 2, topK >= 1")
    val rows = df.filter(featureCols.map(c => sf.col(c).isNotNull)
        .reduce(_ && _) && sf.col(keyCol).isNotNull)
      .select(sf.col(keyCol).as("__k") +: featureCols.zipWithIndex.map {
        case (c, i) => sf.col(c).cast("double").as(s"__f$i") }: _*)
      .localCheckpoint(true) // bounds + melt read it
    val aggs = featureCols.indices.flatMap(i => Seq(
      sf.min(s"__f$i").as(s"__lo$i"), sf.max(s"__f$i").as(s"__hi$i")))
    val bounds = rows.agg(aggs.head, aggs.tail: _*)
    def binOf(i: Int) = sf.when(sf.col(s"__hi$i") > sf.col(s"__lo$i"),
      sf.least(sf.greatest(sf.floor((sf.col(s"__f$i") - sf.col(s"__lo$i")) /
        (sf.col(s"__hi$i") - sf.col(s"__lo$i")) * nBins), sf.lit(0L)),
        sf.lit(nBins - 1L))).otherwise(0L)
    val melted = rows.crossJoin(sf.broadcast(bounds))
      .select(sf.col("__k"), sf.explode(sf.array(featureCols.indices.map(i =>
        sf.struct(sf.lit(i).as("f"), binOf(i).cast("long").as("bin"))): _*))
        .as("__fb"))
      .select(sf.col("__k"), sf.col("__fb.f").as("__f"),
        sf.col("__fb.bin").as("__bin"))
      .localCheckpoint(true) // counts + the score join read it
    def ln9(c: Column) =
      sf.floor(sf.log(c.cast("double")) * 1e9 + 0.5).cast("long")
    val counts = melted.groupBy("__f", "__bin")
      .agg(sf.count(sf.lit(1)).as("__c"))
    val cmax = counts.groupBy("__f").agg(sf.max("__c").as("__cmax"))
    val scored = melted
      .join(sf.broadcast(counts), Seq("__f", "__bin"))
      .join(sf.broadcast(cmax), Seq("__f"))
      .groupBy("__k")
      .agg(sf.sum(ln9(sf.col("__cmax")) - ln9(sf.col("__c"))).cast("long")
        .as("__s9"))
    scored.orderBy(sf.col("__s9").desc, sf.col("__k"))
      .limit(topK)
      .select(sf.col("__k").as(keyCol),
        gf.roundAt(sf.col("__s9").cast("double") / 1e9, 6).as("score"))
  }

  /** EXACT sign test on paired per-subject condition means (Arbuthnott
    * 1710; the distribution-free floor of the paired ladder) — the
    * member rows 411/475 can't replace: the signed-rank test assumes
    * symmetric differences and the paired t normality; the sign test
    * assumes NOTHING but exchangeability, counting only which side of
    * zero each subject's (A − B) mean difference falls on, with ties
    * dropped (the classic conditioning). Under H₀ the positive count
    * is Binomial(m, 1/2), and both tails here are EXACT binomial
    * sums, not normal approximations — the small-m regime is exactly
    * where the test gets used.
    *
    * Determinism: per-subject means snap to the 1e-6 grid before the
    * sign (the row 475 convention), so tie membership is an integer
    * test; ln C(m,j) comes from the row-430 EXACT PREFIX SUM
    * ln-factorial table (never a one-task window) and ln P(j)·1e9 =
    * F(m) − F(j) − F(m−j) − m·ln2₉ is an exact integer (ln2₉ =
    * 693147181), so TAIL MEMBERSHIP is an exact integer comparison;
    * each tail exponentiates relative to its own max member (terms ≤
    * 1 — the row-430 anchor rule), snaps 1e-15, sums DECIMAL(38,0),
    * rescales by one pinned exp; outputs 1e-6 plus the raw 1e-9
    * ln P(obs).
    *
    * Scale shape: one (subject, condition) rollup + a subject-keyed
    * pair join + a one-row sign collapse; the O(m) prefix build is
    * the row-430 range-partitioned pass and `maxN` prices it — beyond
    * it the normal approximation is the right tool anyway. */
  def signTestExact(df: DataFrame, keyCol: String, condCol: String,
                    valueCol: String, condA: String, condB: String,
                    maxN: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    val per = df.filter(sf.col(keyCol).isNotNull && sf.col(valueCol).isNotNull &&
        sf.col(condCol).isin(condA, condB))
      .groupBy(sf.col(keyCol).as("k"), sf.col(condCol).as("c"))
      .agg(sf.sum(sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5)
          .cast("long")).as("s"),
        sf.count(sf.lit(1)).as("n"))
      .select(sf.col("k"), sf.col("c"),
        (sf.col("s").cast("double") / sf.col("n").cast("double") / 1e4).as("m"))
    val d6 = per.filter(sf.col("c") === condA)
      .select(sf.col("k"), sf.col("m").as("__ma"))
      .join(per.filter(sf.col("c") === condB)
        .select(sf.col("k").as("__kb"), sf.col("m").as("__mb")),
        sf.col("k") === sf.col("__kb"))
      .select(sf.floor((sf.col("__ma") - sf.col("__mb")) * 1e6 + 0.5)
        .cast("long").as("d6"))
    val counts = d6.agg(
        sf.sum(sf.when(sf.col("d6") > 0, 1L).otherwise(0L)).cast("long").as("k"),
        sf.sum(sf.when(sf.col("d6") =!= 0, 1L).otherwise(0L)).cast("long").as("m"),
        sf.sum(sf.when(sf.col("d6") === 0, 1L).otherwise(0L)).cast("long")
          .as("ties"))
      .collect()(0)
    val (k, m, ties) = (counts.getLong(0), counts.getLong(1), counts.getLong(2))
    require(m >= 1 && m <= maxN,
      s"signTestExact: m=$m untied pairs outside [1, $maxN] — use the " +
      "normal approximation at this scale, or raise maxN")
    val ln2_9 = 693147181L // floor(ln 2 * 1e9 + 0.5), pinned
    val Chunk = 8192L
    val js = spark.range(0L, m / Chunk + 1)
      .select(sf.explode(sf.sequence(sf.col("id") * Chunk,
        sf.least(sf.col("id") * Chunk + (Chunk - 1), sf.lit(m)))).as("j"))
      .filter(sf.col("j") >= 1L)
      .select(sf.col("j"),
        sf.floor(sf.log(sf.col("j").cast("double")) * 1e9 + 0.5)
          .cast("long").as("__lnj"))
    val lf = graft.operators.StarSchema
      .globalPrefixSums(js, Seq("j"), "__lnj", "f")
      .select(sf.col("j"), sf.col("f"))
      .union(spark.range(1).select(sf.lit(0L).as("j"), sf.lit(0L).as("f")))
      .localCheckpoint(true) // two k-domain attaches + F(m) read it
    val fm = lf.filter(sf.col("j") === m).collect()(0).getLong(1)
    val lnp = spark.range(0L, m + 1).select(sf.col("id").as("j"))
      .join(lf.select(sf.col("j"), sf.col("f").as("__f1")), "j")
      .join(lf.select((sf.lit(m) - sf.col("j")).as("j"), sf.col("f").as("__f2"))
        .filter(sf.col("j").between(0L, m)), "j")
      .select(sf.col("j"), (sf.lit(fm) - sf.col("__f1") - sf.col("__f2") -
        sf.lit(m) * ln2_9).as("__lnp9"))
      .localCheckpoint(true) // obs + anchors + both tail sums read it
    val lnpObs = lnp.filter(sf.col("j") === k).collect()(0).getLong(1)
    val lnpMaxG = lnp.filter(sf.col("j") >= k)
      .agg(sf.max("__lnp9")).collect()(0).getLong(0)
    def rel(anchor: Long) = sf.floor(
      sf.exp((sf.col("__lnp9") - sf.lit(anchor)).cast("double") / 1e9) * 1e15 +
        0.5).cast("long")
    val tails = lnp.agg(
      sf.sum(sf.when(sf.col("__lnp9") <= lnpObs, dec(rel(lnpObs)))).as("__t2"),
      sf.sum(sf.when(sf.col("j") >= k, dec(rel(lnpMaxG)))).as("__tg"))
    val pObs = sf.exp(sf.lit(lnpObs).cast("double") / 1e9)
    val pMaxG = sf.exp(sf.lit(lnpMaxG).cast("double") / 1e9)
    tails.select(
      sf.lit(m).as("n_untied"), sf.lit(k).as("n_pos"), sf.lit(ties).as("n_ties"),
      gf.roundAt(pObs * (sf.col("__t2").cast("double") / 1e15), 6)
        .as("p_two_sided"),
      gf.roundAt(pMaxG * (sf.col("__tg").cast("double") / 1e15), 6)
        .as("p_greater"),
      gf.roundAt(sf.lit(lnpObs).cast("double") / 1e9, 6).as("ln_p_observed"))
  }

  /** Two-regressor OLS by closed-form normal equations — the smallest
    * honest MULTIPLE regression (row 181's trend slopes are simple
    * OLS; partialling out a second driver changes answers exactly when
    * the drivers correlate, the textbook confounder case): ŷ = b₀ +
    * b₁x₁ + b₂x₂ via Cramer's rule on the centered cross-moment
    * matrix, with coefficient standard errors, R² and adjusted R² —
    * fit entirely IN-ENGINE, one scan, no solver.
    *
    * Determinism: values on the exact 1e-4 grid; all eight raw sums
    * (Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y) accumulate as
    * exact DECIMAL(38,0); the n-scaled centered moments Sᵢⱼ = nΣxᵢxⱼ −
    * ΣxᵢΣxⱼ stay DECIMAL-exact and the β/SE/R² chain is ONE pinned
    * double assembly (1e-4 value scales cancel everywhere except b₀,
    * divided back once) rounded 1e-6. n < 4, a singular design
    * (det ≤ 0), or constant y yields NULL inference.
    *
    * Scale shape: one map-side-combined eight-sum rollup — a single
    * scan and a one-row finish; nothing shuffles but partial sums. */
  def linearRegression2(df: DataFrame, yCol: String, x1Col: String,
                        x2Col: String): DataFrame = {
    def g4(name: String) =
      sf.floor(sf.col(name).cast("double") * 1e4 + 0.5).cast("long")
    val rows = df.filter(sf.col(yCol).isNotNull && sf.col(x1Col).isNotNull &&
        sf.col(x2Col).isNotNull)
      .select(g4(yCol).as("y"), g4(x1Col).as("x1"), g4(x2Col).as("x2"))
    rows.agg(
        sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("x1"))).as("s1"), sf.sum(dec(sf.col("x2"))).as("s2"),
        sf.sum(dec(sf.col("y"))).as("sy"),
        sf.sum(dec(sf.col("x1")) * dec(sf.col("x1"))).as("s11"),
        sf.sum(dec(sf.col("x2")) * dec(sf.col("x2"))).as("s22"),
        sf.sum(dec(sf.col("x1")) * dec(sf.col("x2"))).as("s12"),
        sf.sum(dec(sf.col("x1")) * dec(sf.col("y"))).as("s1y"),
        sf.sum(dec(sf.col("x2")) * dec(sf.col("y"))).as("s2y"),
        sf.sum(dec(sf.col("y")) * dec(sf.col("y"))).as("syy"))
      .select({
        val n = sf.col("n").cast("double")
        def ctr(sab: Column, sa: Column, sb: Column) =
          (dec(sf.col("n")) * sab - sa * sb).cast("double")
        val c11 = ctr(sf.col("s11"), sf.col("s1"), sf.col("s1"))
        val c22 = ctr(sf.col("s22"), sf.col("s2"), sf.col("s2"))
        val c12 = ctr(sf.col("s12"), sf.col("s1"), sf.col("s2"))
        val c1y = ctr(sf.col("s1y"), sf.col("s1"), sf.col("sy"))
        val c2y = ctr(sf.col("s2y"), sf.col("s2"), sf.col("sy"))
        val cyy = ctr(sf.col("syy"), sf.col("sy"), sf.col("sy"))
        val det = c11 * c22 - c12 * c12
        val b1 = (c22 * c1y - c12 * c2y) / det
        val b2 = (c11 * c2y - c12 * c1y) / det
        val b0 = (sf.col("sy").cast("double") - b1 * sf.col("s1").cast("double")
          - b2 * sf.col("s2").cast("double")) / n / 1e4
        val sse = (cyy - b1 * c1y - b2 * c2y) / n
        val s2e = sse / (n - 3)
        val r2 = (b1 * c1y + b2 * c2y) / cyy
        val ok = sf.col("n") >= 4 && det > 0 && cyy > 0
        Seq(sf.col("n"),
          sf.when(ok, gf.roundAt(b0, 6)).as("b0"),
          sf.when(ok, gf.roundAt(b1, 6)).as("b1"),
          sf.when(ok, gf.roundAt(b2, 6)).as("b2"),
          sf.when(ok && s2e >= 0,
            gf.roundAt(sf.sqrt(s2e * n * c22 / det), 6)).as("se_b1"),
          sf.when(ok && s2e >= 0,
            gf.roundAt(sf.sqrt(s2e * n * c11 / det), 6)).as("se_b2"),
          sf.when(ok, gf.roundAt(r2, 6)).as("r2"),
          sf.when(ok, gf.roundAt(sf.lit(1.0) - (sf.lit(1.0) - r2) * (n - 1) / (n - 3), 6))
            .as("adj_r2"))
      }: _*)
  }

  /** Hoeffding's D dependence statistic (Hoeffding 1948; the tied-data
    * form SAS PROC CORR popularized) on the bucketed cell domain — the
    * member of the association ladder that catches NON-MONOTONE
    * dependence: ρ/τ/γ all read ≈ 0 on a U-shaped relationship;
    * D compares the joint ECDF against the product of margins, so ANY
    * dependence pattern moves it (≈ 0 independent, up to 1 for
    * perfectly dependent continuous data, small negatives possible
    * under ties). The screening statistic for "is there structure
    * here at all" before choosing a functional form.
    *
    * Contract: [[kendallTau]]'s — caller buckets, numeric ordinals
    * only (the '10' < '2' guard). With midranks R, S and bivariate
    * ranks Q_i = 1 + #[both <] + ½#[one =, other <] + ¼#[both =,
    * j≠i]: D1 = Σ(Q−1)(Q−2), D2 = Σ(R−1)(R−2)(S−1)(S−2),
    * D3 = Σ(R−2)(S−2)(Q−1), D = 30·[(n−2)(n−3)D1 + D2 −
    * 2(n−2)D3]/[n(n−1)(n−2)(n−3)(n−4)].
    *
    * Determinism: midranks carry 2-SCALED and bivariate ranks
    * 4-SCALED as exact integers from domain prefixes, so all three
    * D-sums accumulate 16-scaled in DECIMAL(38,0) and the final D is
    * ONE pinned double assembly rounded 1e-6. Exactness envelope:
    * the D2 terms reach n·(2n)⁴ — past n ≈ 10⁷ rows the DECIMAL
    * accumulator overflows to NULL (never silent garbage); bucket
    * coarser or sample first. n < 5 yields NULL.
    *
    * Scale shape: one (x, y) cell collapse, two DOMAIN-bounded margin
    * prefixes, one bounded per-x window over the y domain, and
    * [[kendallTau]]'s broadcast cell² dominance join (bounded by the
    * bucketing contract) — zero row-level work past the collapse. */
  def hoeffdingsD(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Seq(xCol, yCol).foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampType,
        s"hoeffdingsD: column '$c' has type ${dt.simpleString}; ordinal " +
        "buckets must be numeric (or date/timestamp) so '<' is the " +
        "intended order — map string buckets to integer codes first")
    }
    val cells = df.filter(sf.col(xCol).isNotNull && sf.col(yCol).isNotNull)
      .groupBy(sf.col(xCol).as("x"), sf.col(yCol).as("y"))
      .agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // margins, Tx window, dominance join read it
    // midranks, 2-scaled, from the per-axis value-domain prefixes
    def margin(axis: String) = {
      val w = Window.partitionBy(sf.pmod(sf.hash(sf.col(axis)), sf.lit(1)))
        .orderBy(axis).rowsBetween(Window.unboundedPreceding, -1)
      cells.groupBy(axis).agg(sf.sum("c").as("__t"))
        .withColumn("__pre", sf.coalesce(sf.sum("__t").over(w), sf.lit(0L)))
        .select(sf.col(axis), (sf.col("__pre") * 2 + sf.col("__t") + 1)
          .as(s"__r2$axis"))
    }
    // Ty twin: within each y, mass at strictly-smaller x (bounded by
    // the per-y x-domain); Tx symmetric
    val wTx = Window.partitionBy("x").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTy = Window.partitionBy("y").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withTies = cells
      .withColumn("__tx", sf.coalesce(sf.sum("c").over(wTx), sf.lit(0L)))
      .withColumn("__ty", sf.coalesce(sf.sum("c").over(wTy), sf.lit(0L)))
    // strict 2-D dominance mass per cell: kendallTau's broadcast
    // domain-squared pairing
    val dom = cells.crossJoin(sf.broadcast(cells.select(
        sf.col("x").as("x2"), sf.col("y").as("y2"), sf.col("c").as("c2"))))
      .filter(sf.col("x2") < sf.col("x") && sf.col("y2") < sf.col("y"))
      .groupBy("x", "y").agg(sf.sum("c2").as("__b"))
    val full = withTies.join(dom, Seq("x", "y"), "left")
      .na.fill(0L, Seq("__b"))
      .join(margin("x"), "x").join(margin("y"), "y")
      .select(sf.col("c"),
        (sf.col("__b") * 4 + (sf.col("__tx") + sf.col("__ty")) * 2 +
          sf.col("c") + 3).as("__q4"), // 4-scaled Q: 4 + 4B + 2T + (c-1)
        sf.col("__r2x"), sf.col("__r2y"))
    val sums = full.agg(
      sf.sum("c").cast("long").as("n"), sf.count(sf.lit(1)).as("n_cells"),
      sf.sum(dec(sf.col("c")) * dec(sf.col("__q4") - 4) *
        dec(sf.col("__q4") - 8)).as("__d1"),
      sf.sum(dec(sf.col("c")) * dec(sf.col("__r2x") - 2) *
        dec(sf.col("__r2x") - 4) * dec(sf.col("__r2y") - 2) *
        dec(sf.col("__r2y") - 4)).as("__d2"),
      sf.sum(dec(sf.col("c")) * dec(sf.col("__r2x") - 4) *
        dec(sf.col("__r2y") - 4) * dec(sf.col("__q4") - 4)).as("__d3"))
    sums.select({
      val n = sf.col("n").cast("double")
      val d1 = sf.col("__d1").cast("double") / 16
      val d2 = sf.col("__d2").cast("double") / 16
      val d3 = sf.col("__d3").cast("double") / 16
      val num = (n - 2) * (n - 3) * d1 + d2 - (n - 2) * d3 * 2
      val den = n * (n - 1) * (n - 2) * (n - 3) * (n - 4)
      val ok = sf.col("n") >= 5 && sf.col("__d1").isNotNull &&
        sf.col("__d2").isNotNull && sf.col("__d3").isNotNull
      Seq(sf.col("n"), sf.col("n_cells"),
        sf.when(ok, gf.roundAt(num * 30 / den, 6)).as("d_stat"))
    }: _*)
  }
}