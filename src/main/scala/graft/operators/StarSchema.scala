package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => sf}
import graft.sources.Tables
import graft.{functions => gf}
import graft.functions.dec

/** The reference's star-schema ETL re-expressed on the TPC-H-ish corpus:
  * fact = lineitem⋈orders with derived measures (reference fact_I94 +
  * stay, etl.py:139-186); dims = customer⋈nation⋈region denormalized
  * (reference dim_Country/dim_Demographics joins).
  *
  * Scale notes: region(5)/nation(25)/supplier/part are broadcast — the
  * 100 TB fact never shuffles for dim joins. lineitem⋈orders shuffles
  * on orderkey (both sides huge); AQE picks the join flavor and handles
  * skew. All money math is done in DECIMAL(18,2) per-row then summed,
  * so results are associativity-independent (exact under any partition
  * merge order).
  */
object StarSchema {

  import Tables.load

  /** Exact revenue at scale 4: computed in fixed-point cents (long
    * kernel — decimal-exact values at long-arithmetic speed) and
    * reinterpreted as a decimal at the end. Equivalent to
    * decimal(18,2) * (1 - decimal(4,2)) with the product kept at full
    * scale (no narrowing rounding — engines disagree on decimal
    * scale-down rounding modes, so we never do one). */
  private def revenueE4 =
    graft.functions.revenueE4(sf.col("l_extendedprice"), sf.col("l_discount"))

  /** revenue per region/nation: the flagship multi-way star join. */
  def revenueByRegion(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val ord = load(spark, dir, "orders")
    val cust = load(spark, dir, "customer")
    val nat = sf.broadcast(load(spark, dir, "nation"))
    val reg = sf.broadcast(load(spark, dir, "region"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(sf.col("r_name").as("region"), sf.col("n_name").as("nation"))
      .agg(
        // Exact e4-cents sum, surfaced as DOUBLE: the sum is a long well
        // under 2^53, so the decimal->double conversion is the correctly
        // rounded value in every engine — DECIMAL output columns trip
        // scale-representation mismatches ("2547.40" vs "2547.4") in
        // downstream consumers that mix decimal and float readers.
        graft.functions.e4ToDecimal(sf.sum(revenueE4)).cast("double").as("revenue"),
        sf.count(sf.lit(1)).as("n_lines"))
      .orderBy("region", "nation")
  }

  /** Hierarchy subtotals: revenue by (region, nation) with ROLLUP —
    * nation subtotals, region subtotals, and the grand total in one
    * pass. Spark expands grouping sets inside a single aggregation
    * (one shuffle, map-side partial aggs for every set); dims broadcast
    * as in `revenueByRegion`, the fact never shuffles. `lvl` is the
    * grouping-set id (0=detail, 1=region subtotal, 3=grand total) —
    * it doubles as the NULL-disambiguator for sort stability. */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val ord = load(spark, dir, "orders")
    val cust = load(spark, dir, "customer")
    val nat = sf.broadcast(load(spark, dir, "nation"))
    val reg = sf.broadcast(load(spark, dir, "region"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .rollup(sf.col("r_name").as("region"), sf.col("n_name").as("nation"))
      .agg(
        graft.functions.e4ToDecimal(sf.sum(revenueE4)).cast("double").as("revenue"),
        sf.count(sf.lit(1)).as("n_lines"),
        sf.grouping_id().cast("int").as("lvl"))
      .orderBy(sf.col("lvl"), sf.col("region").asc_nulls_first,
        sf.col("nation").asc_nulls_first)
  }

  /** CUBE over two INDEPENDENT dimensions (region x order priority):
    * all four grouping sets — the full matrix, both one-way margins,
    * and the grand total — in one pass. Spark expands grouping sets
    * with a single Expand node feeding one hash aggregate, so the cost
    * is (#grouping sets) map-side replications, never extra scans or
    * joins; money accumulates in exact e4 fixed-point (the rollup
    * convention). */
  def revenueCube(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val ord = load(spark, dir, "orders")
    val cust = load(spark, dir, "customer")
    val nat = sf.broadcast(load(spark, dir, "nation"))
    val reg = sf.broadcast(load(spark, dir, "region"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .cube(sf.col("r_name").as("region"), sf.col("o_orderpriority").as("priority"))
      .agg(
        graft.functions.e4ToDecimal(sf.sum(revenueE4)).cast("double").as("revenue"),
        sf.count(sf.lit(1)).as("n_lines"),
        sf.grouping_id().cast("int").as("lvl"))
      .orderBy(sf.col("lvl"), sf.col("region").asc_nulls_first,
        sf.col("priority").asc_nulls_first)
  }

  /** Rank-statistics window surface: percent_rank, cume_dist, and
    * quartile (ntile) of each order's price WITHIN its priority class.
    * ntile is order-dependent on ties, so the window orders by
    * (price, orderkey) — a total order, making every rank column a
    * pure function of the data in any engine. One shuffle on the
    * priority key; all three functions share the single sort. */
  def priceRanks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(sf.col("o_totalprice"), sf.col("o_orderkey"))
    load(spark, dir, "orders")
      .select(sf.col("o_orderkey"), sf.col("o_orderpriority").as("priority"),
        sf.col("o_totalprice"),
        graft.functions.roundAt(sf.percent_rank().over(w), 6).as("pct_rank"),
        graft.functions.roundAt(sf.cume_dist().over(w), 6).as("cume"),
        sf.ntile(4).over(w).as("quartile"))
      .orderBy("priority", "o_totalprice", "o_orderkey")
  }

  /** Window analytics over the order history: per-customer order
    * sequence number, running spend, and 3-order moving average. One
    * shuffle on the customer key; all three windows share the single
    * (custkey, orderdate, orderkey) sort. Money accumulates in
    * DECIMAL(18,2) (exact at any prefix length) and surfaces as DOUBLE. */
  def customerRunningSpend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(sf.col("o_orderdate"), sf.col("o_orderkey"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wMov = w.rowsBetween(-2, Window.currentRow)
    val price = sf.col("o_totalprice").cast("decimal(18,2)")
    load(spark, dir, "orders")
      .select(sf.col("o_custkey"), sf.col("o_orderkey"),
        sf.row_number().over(w).as("order_seq"),
        sf.sum(price).over(wRun).cast("double").as("running_spend"),
        gf.roundAt(sf.sum(price).over(wMov).cast("double") /
          sf.count(sf.lit(1)).over(wMov), 4).as("moving_avg3"))
      .orderBy("o_custkey", "order_seq")
  }

  /** Fact build: cleaning + casts + derived ship_delay / revenue
    * (reference fact_I94: drop, na.drop(subset), SAS datediff stay). */
  def factSales(spark: SparkSession, dir: String): DataFrame = {
    val li = Cleaning.dropNullsAny(
      Cleaning.dropNullsAll(load(spark, dir, "lineitem")),
      "l_returnflag", "l_linestatus")
      .filter(sf.col("l_quantity") > 0)
    val ord = load(spark, dir, "orders")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(
        sf.col("l_orderkey"),
        sf.col("l_linenumber").cast("int").as("l_linenumber"),
        sf.col("o_custkey"),
        // floor, not a bare cast: Spark truncates double->int while
        // other engines round-to-nearest; floor is unambiguous.
        sf.floor(sf.col("l_quantity")).cast("int").as("quantity"),
        sf.datediff(sf.to_date(sf.col("l_shipdate")), sf.to_date(sf.col("o_orderdate")))
          .as("ship_delay"),
        graft.functions.e4ToDecimal(revenueE4, precision = 22).cast("double").as("revenue"),
        sf.col("l_returnflag"))
  }

  /** Denormalized customer dim: customer ⟕ nation ⟕ region, redundant
    * key columns dropped (reference dim_Country/dim_Demographics). */
  def dimCustomer(spark: SparkSession, dir: String): DataFrame = {
    val cust = load(spark, dir, "customer")
    val nat = sf.broadcast(load(spark, dir, "nation"))
    val reg = sf.broadcast(load(spark, dir, "region"))
    cust.join(nat, cust("c_nationkey") === nat("n_nationkey"), "left")
      .join(reg, nat("n_regionkey") === reg("r_regionkey"), "left")
      .select(
        sf.col("c_custkey"), sf.col("c_name"), sf.col("c_mktsegment"),
        sf.col("c_acctbal").as("acctbal"),
        sf.col("n_name").as("nation"), sf.col("r_name").as("region"))
  }

  /** dim_Airport from an airport-codes CSV-shaped frame (reference
    * README data source #4, "Airport Code Table"; notebook Step 2,
    * dim_Airport cell: drop the mostly-null iata_code, split
    * iso_region into country/state, split coordinates into
    * latitude/longitude, cast elevation_ft/lat/lon) — the worked twin
    * of the one reference artifact that never reached etl.py's final
    * model. Input is the raw all-strings CSV shape (ident, type, name,
    * elevation_ft, continent, iso_country, iso_region, municipality,
    * gps_code, iata_code, local_code, coordinates); output is the
    * typed dim with a scale-safe dense surrogate key (1..n ordered by
    * ident — [[globalDenseIds]], never a one-task row_number) in a
    * fixed column order. `keepTypes` optionally filters to real
    * airfields (e.g. small/medium/large_airport — the curation the
    * notebook stops short of); Nil keeps every row like the
    * reference. */
  def dimAirport(raw: DataFrame, keepTypes: Seq[String] = Nil): DataFrame = {
    val typed = raw
      .withColumn("country", sf.split(sf.col("iso_region"), "-").getItem(0))
      .withColumn("state", sf.split(sf.col("iso_region"), "-").getItem(1))
      .withColumn("latitude",
        sf.split(sf.col("coordinates"), ", ").getItem(0).cast("double"))
      .withColumn("longitude",
        sf.split(sf.col("coordinates"), ", ").getItem(1).cast("double"))
      .withColumn("elevation_ft", sf.col("elevation_ft").cast("int"))
    val kept = if (keepTypes.nonEmpty) typed.filter(sf.col("type").isin(keepTypes: _*))
               else typed
    globalDenseIds(kept, Seq("ident"), "airport_key")
      .select("airport_key", "ident", "type", "name", "elevation_ft",
        "continent", "municipality", "gps_code", "local_code",
        "country", "state", "latitude", "longitude")
      .orderBy("airport_key")
  }

  /** Per-group summary stats (reference dim_Country temperature agg,
    * etl.py:411-414 — mean/first; `first` replaced with deterministic
    * min/max so results are partition-order independent). */
  def aggStats(spark: SparkSession, dir: String): DataFrame = {
    val cust = load(spark, dir, "customer")
    val nat = sf.broadcast(load(spark, dir, "nation"))
    cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(sf.col("n_name").as("nation"))
      .agg(
        sf.count(sf.lit(1)).as("n_customers"),
        // Deterministic mean: exact decimal sum first, then one double
        // division — a plain double avg() depends on partition merge
        // order (last-ulp drift across runs/cluster sizes).
        gf.roundAt(
          sf.sum(sf.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / sf.count(sf.lit(1)), 2).as("avg_bal"),
        sf.sum(sf.col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"),
        sf.min(sf.col("c_acctbal")).as("min_bal"),
        sf.max(sf.col("c_acctbal")).as("max_bal"))
      .orderBy("nation")
  }

  /** Deterministic surrogate key via row_number window (reference used
    * monotonically_increasing_id, etl.py:243 — non-deterministic across
    * runs; row_number over an explicit order is reproducible). */
  def withSurrogateKey(df: DataFrame, partitionCols: Seq[String],
                       orderCols: Seq[String], keyName: String = "sk"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(sf.col): _*)
      .orderBy(orderCols.map(sf.col): _*)
    df.withColumn(keyName, sf.row_number().over(w))
  }

  /** Globally dense deterministic ids 1..n ordered by `orderCols`, at
    * ANY parallelism — the scale-safe form of the global surrogate key.
    * `row_number() OVER (ORDER BY ...)` with no partition key numbers
    * 10^12 rows on ONE task; here a range repartition on the order
    * columns gives ordered partitions, every partition numbers its own
    * rows in parallel (the window is keyed on the partition id), and a
    * numPartitions-row count table becomes broadcast exclusive
    * offsets. Each row's id is exactly its rank in the TOTAL order, so
    * the result is independent of where the (sampled) range boundaries
    * fall — which is also why `orderCols` must be a total order: rows
    * tied on a partial order could straddle a boundary and swap ids
    * between runs. The offsets window runs over <= numPartitions rows
    * keyed by a non-foldable constant (bounded by construction). */
  def globalDenseIds(df: DataFrame, orderCols: Seq[String],
                     keyName: String = "sk", numPartitions: Int = 0): DataFrame = {
    val oc = orderCols.map(sf.col)
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(n, oc: _*)
      .withColumn("__pid", sf.spark_partition_id())
      .localCheckpoint(true) // counts + numbering both read it
    val offW = Window.partitionBy(sf.pmod(sf.col("__pid"), sf.lit(1)))
      .orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("__pid").agg(sf.count(sf.lit(1)).as("__c"))
      .withColumn("__off", sf.coalesce(sf.sum("__c").over(offW), sf.lit(0L)))
      .select("__pid", "__off")
    val local = Window.partitionBy("__pid").orderBy(oc: _*)
    ranged.join(sf.broadcast(offsets), "__pid")
      .withColumn(keyName, (sf.col("__off") + sf.row_number().over(local)))
      .drop("__pid", "__off")
  }

  /** Globally-ordered exact prefix sums of `sumCol` at ANY parallelism —
    * the weighted generalization of [[globalDenseIds]] (which is this
    * with weight 1): each row gets the sum of `sumCol` over all rows at
    * or before it in the TOTAL order given by `orderCols`. The scale
    * shape is identical: range repartition on the order columns,
    * partition-local running sums in parallel, and a numPartitions-row
    * broadcast of exclusive per-partition totals — never a one-task
    * global window. `orderCols` must be a total order (ties could
    * straddle a range boundary and reorder between runs). */
  def globalPrefixSums(df: DataFrame, orderCols: Seq[String], sumCol: String,
                       cumName: String = "cum", numPartitions: Int = 0): DataFrame =
    globalPrefixSumsMulti(df, orderCols, Seq(sumCol -> cumName), numPartitions)

  /** [[globalPrefixSums]] over SEVERAL sum columns in ONE range
    * shuffle: each (sumCol, cumName) pair gets its running total, all
    * riding the same range repartition, partition-local windows and a
    * single numPartitions-row offsets broadcast — callers needing
    * cumulative (tp, fp) or (events, censored, lnTerms) pay one
    * shuffle, not one per measure. */
  def globalPrefixSumsMulti(df: DataFrame, orderCols: Seq[String],
                            sums: Seq[(String, String)],
                            numPartitions: Int = 0): DataFrame = {
    require(sums.nonEmpty, "at least one (sumCol, cumName) pair required")
    val oc = orderCols.map(sf.col)
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(n, oc: _*)
      .withColumn("__pid", sf.spark_partition_id())
      .localCheckpoint(true) // totals + running sums both read it
    val offW = Window.partitionBy(sf.pmod(sf.col("__pid"), sf.lit(1)))
      .orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("__pid")
      .agg(sums.map { case (s, c) => sf.sum(s).as(s"__c_$c") }.head,
        sums.tail.map { case (s, c) => sf.sum(s).as(s"__c_$c") }: _*)
      .select(sf.col("__pid") +: sums.map { case (_, c) =>
        sf.coalesce(sf.sum(s"__c_$c").over(offW), sf.lit(0L)).as(s"__off_$c")
      }: _*)
    val local = Window.partitionBy("__pid").orderBy(oc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sums.foldLeft(ranged.join(sf.broadcast(offsets), "__pid")) {
      case (acc, (s, c)) =>
        acc.withColumn(c, sf.col(s"__off_$c") + sf.sum(s).over(local))
    }.drop("__pid" +: sums.map { case (_, c) => s"__off_$c" }: _*)
  }

  /** ABC / Pareto classification of keys by amount share (the 80/15/5
    * inventory-analysis standard): rank keys by descending amount,
    * class A while the INCLUSIVE cumulative share ≤ 80%, B while
    * ≤ 95%, C beyond — "which 20% of parts carry 80% of revenue", the
    * first readout every assortment/capacity review asks for.
    *
    * Determinism: amounts snap to exact cents (⌊x·100 + 0.5⌋ longs —
    * IEEE multiply + floor, engine-exact); the descending rank rides
    * [[globalPrefixSums]] over the total order (−amount, key) — never
    * a one-task window; class boundaries compare exact integers
    * (cum·5 ≤ tot·4 ⇔ cum ≤ 0.8·tot, in DECIMAL(38,0) so corpus-scale
    * totals can't overflow); shares are pinned double divisions
    * rounded 1e-6.
    *
    * Scale shape: one map-side-combinable key rollup, the range-
    * partitioned prefix pass, a domain-sized max for the total, one
    * broadcast. */
  def abcClassification(df: DataFrame, keyCol: String,
                        amountCol: String): DataFrame = {
    val fx = sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long")
    val per = df.filter(sf.col(amountCol).isNotNull && sf.col(keyCol).isNotNull)
      .groupBy(sf.col(keyCol).as("key")).agg(sf.sum(fx).as("__rev"))
      .withColumn("__neg", -sf.col("__rev"))
    val cum = globalPrefixSums(per, Seq("__neg", "key"), "__rev", "__cum")
      .localCheckpoint(true) // total + output both read it
    val tot = cum.agg(sf.max("__cum").as("__tot"))
    cum.crossJoin(sf.broadcast(tot))
      .select(sf.col("key").as(keyCol),
        (sf.col("__rev").cast("double") / 100).as("amount"),
        gf.roundAt(sf.col("__rev").cast("double") /
          sf.col("__tot").cast("double"), 6).as("share"),
        gf.roundAt(sf.col("__cum").cast("double") /
          sf.col("__tot").cast("double"), 6).as("cum_share"),
        sf.when(dec(sf.col("__cum")) * 5 <= dec(sf.col("__tot")) * 4, "A")
          .when(dec(sf.col("__cum")) * 20 <= dec(sf.col("__tot")) * 19, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(sf.col("cum_share"), sf.col(keyCol))
  }

  /** Partitioned parquet sink (reference partitionBy writes, etl.py:251). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.partitionBy(partitionCols: _*).mode("overwrite").parquet(path)

  /** Bucketed table sink: pre-shuffles once at write time so that every
    * later equi-join/aggregation on `bucketCol` between tables with the
    * same bucketing is co-located — zero shuffle at read time. This is
    * the 100 TB answer for fact⋈fact joins (lineitem⋈orders) that are
    * repeated across a workload. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCol: String, numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Small-file compaction: rewrite a dataset into `numFiles` output
    * files (bounded above by maxRecordsPerFile when given). The
    * many-small-files problem is THE silent killer of 100 TB table
    * scans — driver-side file listing, footer reads, and task-per-file
    * scheduling all scale with file count, not byte count. */
  def compact(df: DataFrame, path: String, numFiles: Int,
              maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.repartition(numFiles).write.mode("overwrite")
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(path)
  }

  /** Range-clustered parquet sink: repartitionByRange + in-partition
    * sort on the cluster columns before writing, so every file covers a
    * narrow value range and parquet min/max statistics prune most files
    * for selective scans — the poor-engine's Z-ORDER, exactly right for
    * 1-2 dominant filter columns. */
  def writeClustered(df: DataFrame, path: String, clusterCols: Seq[String],
                     numFiles: Int): Unit =
    df.repartitionByRange(numFiles, clusterCols.map(sf.col): _*)
      .sortWithinPartitions(clusterCols.map(sf.col): _*)
      .write.mode("overwrite").parquet(path)

  /** Z-order (Morton-curve) clustered parquet sink: where
    * `writeClustered` concentrates ONE column's range per file (the
    * second cluster column's per-file range stays ~global), the
    * interleaved-bit sort key concentrates EVERY z-column's range
    * simultaneously, so parquet min/max statistics prune files for
    * selective filters on ANY of them — the multi-dimensional layout
    * Delta/Iceberg OPTIMIZE ZORDER provides.
    *
    * Each column is coded to `bits` levels by uniform min/max scaling
    * (one small agg collect; a quantile-coded variant would slot in
    * for heavy skew), the codes' bits are interleaved into the Morton
    * value as a pure Column expression — map-only, codegen'd — and the
    * single shuffle is the range partition on the z-value. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    numFiles: Int, bits: Int = 8): Unit = {
    require(zCols.nonEmpty && bits >= 1 && bits * zCols.size <= 60,
      "bits * zCols must fit a long")
    val statCols = zCols.flatMap(c => Seq(
      sf.min(sf.col(c).cast("double")).as(s"mn_$c"),
      sf.max(sf.col(c).cast("double")).as(s"mx_$c")))
    val stats = df.agg(statCols.head, statCols.tail: _*).head()
    val nLevels = 1 << bits
    val z = zCols.zipWithIndex.map { case (c, ci) =>
      val mn = stats.getAs[Double](s"mn_$c")
      val mx = stats.getAs[Double](s"mx_$c")
      val code =
        if (mx <= mn) sf.lit(0L)
        else sf.least(sf.lit(nLevels - 1L),
          sf.floor((sf.col(c).cast("double") - mn) / (mx - mn) * nLevels))
      // spread code bit b of column ci to z bit b*nCols + ci
      (0 until bits).map { b =>
        sf.shiftleft(sf.shiftright(code, b).bitwiseAND(1L),
          b * zCols.size + ci).cast("long")
      }.reduce(_ + _)
    }.reduce(_ + _)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, sf.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Deterministic MODE per group — the most frequent value of
    * `valCol` within each `keyCol` group, ties broken by the SMALLEST
    * value (a total order, so reruns and engines agree): the
    * categorical "typical value" the mean/median ladder can't give,
    * and the imputation default every cleaning pipeline wants next to
    * [[graft.dq.QualityChecks]]'s numeric profiles. Reports the modal
    * value, its count, the group size, and the modal share.
    *
    * Determinism: counts are exact; the argmax rides ONE combinable
    * min(struct(−count, value)) — no window, no sort; share is a
    * pinned integer-ratio division rounded 1e-6. Nulls drop
    * (complete-case, documented).
    *
    * Scale shape: two map-side-combined aggregations ((key, value)
    * cells, then per-key argmax) — the same two-shuffle funnel as any
    * distinct-count rollup; no skew trap because the cell collapse
    * happens before the per-key reduce. */
  def modePerGroup(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val cells = df.filter(sf.col(keyCol).isNotNull && sf.col(valCol).isNotNull)
      .select(sf.col(keyCol).as("k"), sf.col(valCol).cast("string").as("v"))
      .groupBy("k", "v").agg(sf.count(sf.lit(1)).as("c"))
    cells.groupBy("k")
      .agg(sf.min(sf.struct((-sf.col("c")).as("nc"), sf.col("v"))).as("__m"),
        sf.sum("c").cast("long").as("n_rows"),
        sf.count(sf.lit(1)).as("n_distinct"))
      .select(sf.col("k").as(keyCol), sf.col("__m.v").as("mode_value"),
        (-sf.col("__m.nc")).as("mode_count"), sf.col("n_rows"),
        sf.col("n_distinct"),
        gf.roundAt((-sf.col("__m.nc")).cast("double") /
          sf.col("n_rows").cast("double"), 6).as("mode_share"))
      .orderBy(keyCol)
  }

  /** Top-N + "(other)" rollup — the reporting cut every dashboard
    * renders: the N largest dimension members by exact-cents amount,
    * each with rank and share, plus ONE residual row aggregating
    * everything else (so the table always sums to 100% and a
    * long-tail dimension can't flood the report). The honest
    * complement to [[abcPareto]]: ABC classifies every member; this
    * keeps the render bounded at N+1 rows.
    *
    * Determinism: amounts snap to exact cents; the cut orders by
    * (cents desc, member) — fully tie-deterministic; shares are
    * pinned divisions of exact integers rounded 1e-6.
    *
    * Scale shape: one combinable per-member rollup, a TakeOrdered
    * N-row cut (never a global sort materialization), one broadcast
    * anti join + one-row residual agg, and an N+1-row union finish. */
  def topNPlusOther(df: DataFrame, dimCol: String, amountCol: String,
                    n: Int = 5): DataFrame = {
    require(n >= 1 && n <= 10000, s"n must be in [1, 1e4], got $n")
    val per = df.filter(sf.col(dimCol).isNotNull)
      .select(sf.col(dimCol).cast("string").as("member"),
        sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long")
          .as("__cents"))
      .groupBy("member").agg(sf.sum("__cents").as("__amt"))
      .localCheckpoint(true) // top cut + residual + total read it
    val total = per.agg(sf.sum("__amt").cast("long").as("__tot"),
      sf.count(sf.lit(1)).as("__nm"))
    val top = per.orderBy(sf.col("__amt").desc, sf.col("member")).limit(n)
      .localCheckpoint(true) // ranked output + anti join read it
    val other = per.join(top.select("member"), Seq("member"), "left_anti")
      .agg(sf.coalesce(sf.sum("__amt"), sf.lit(0L)).cast("long").as("__amt"),
        sf.count(sf.lit(1)).as("__cnt"))
    val topOut = top.withColumn("__neg", -sf.col("__amt"))
    val rankedTop = StarSchema
      .globalDenseIds(topOut, Seq("__neg", "member"), "rank")
      .select(sf.col("rank"), sf.col("member"), sf.col("__amt"))
    val otherOut = other.filter(sf.col("__cnt") > 0)
      .select(sf.lit(n + 1L).as("rank"), sf.lit("(other)").as("member"),
        sf.col("__amt"))
    rankedTop.unionByName(otherOut)
      .crossJoin(sf.broadcast(total))
      .select(sf.col("rank").cast("long").as("rank"), sf.col("member"),
        gf.roundAt(sf.col("__amt").cast("double") / 100, 2).as("amount"),
        sf.when(sf.col("__tot") > 0, gf.roundAt(
          sf.col("__amt").cast("double") / sf.col("__tot").cast("double"), 6))
          .as("share"))
      .orderBy("rank")
  }

  /** Supplier-concentration risk table — per part: supplier count,
    * total quantity, the Herfindahl–Hirschman index of supplier
    * quantity shares (HHI = Σ share², 1/n even split → 1 single
    * source), the top supplier's share, and the `single_source` flag:
    * the supply-chain risk screen (HHI > 0.25 is the antitrust
    * "highly concentrated" line; procurement reads it as "no
    * fallback"), and the per-key twin of row 178's corpus-level
    * concentration datasheet.
    *
    * Determinism: quantities on the exact 1e-4 grid; HHI = Σq_s²/(Σq)²
    * with both sums DECIMAL(38,0)-exact, ONE pinned division 1e-6;
    * top share the same; the flag compares exact integers
    * (n_suppliers = 1).
    *
    * Scale shape: one (part, supplier) rollup + one per-part rollup
    * with a combinable max(struct) — two shuffles at any scale. */
  def supplierConcentration(lineitem: DataFrame): DataFrame = {
    val q4 = sf.floor(sf.col("l_quantity").cast("double") * 1e4 + 0.5).cast("long")
    val per = lineitem
      .filter(sf.col("l_partkey").isNotNull && sf.col("l_suppkey").isNotNull &&
        sf.col("l_quantity").isNotNull)
      .select(sf.col("l_partkey"), sf.col("l_suppkey"), q4.as("__q"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sf.sum(dec(sf.col("__q"))).cast("decimal(38,0)").as("__sq"))
    per.groupBy("l_partkey")
      .agg(sf.count(sf.lit(1)).as("n_suppliers"),
        sf.sum("__sq").as("__tot"),
        sf.sum(sf.col("__sq") * sf.col("__sq")).as("__hh"),
        sf.max("__sq").as("__top"))
      .select(sf.col("l_partkey"), sf.col("n_suppliers"),
        gf.roundAt(sf.col("__tot").cast("double") / 1e4, 4).as("total_qty"),
        sf.when(sf.col("__tot") > 0, gf.roundAt(
          sf.col("__hh").cast("double") /
            (sf.col("__tot") * sf.col("__tot")).cast("double"), 6)).as("hhi"),
        sf.when(sf.col("__tot") > 0, gf.roundAt(
          sf.col("__top").cast("double") / sf.col("__tot").cast("double"), 6))
          .as("top_supplier_share"),
        (sf.col("n_suppliers") === 1).as("single_source"))
      .orderBy("l_partkey")
  }

  /** Daily order-backlog series — open orders per day from the order
    * and shipment events (opened = order date, closed = the order's
    * LAST line shipment): backlog_d = Σ opened≤d − Σ closed≤d, the
    * work-in-progress level every fulfillment/queueing review needs
    * and no per-day count can give (backlog is a LEVEL, integrating
    * the open/close flows — the classic events-to-balance pattern).
    * Orders with no lines never close and hold the backlog up — the
    * honest reading of dangling work, documented.
    *
    * Determinism: open/close land on exact epoch-day integers; the
    * cumulative rides ONE calendar-bounded day-domain window (the
    * row 144 domain convention — days since epoch, never row count);
    * all outputs exact integers.
    *
    * Scale shape: one per-order close rollup + a day-domain delta
    * collapse + a chunked day-grid explode + one domain-bounded
    * cumulative. */
  def dailyBacklog(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val opens = orders.filter(sf.col("o_orderdate").isNotNull)
      .select(sf.col("o_orderkey").as("k"),
        sf.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("open_d"))
      .localCheckpoint(true) // deltas + bounds read it
    val closes = lineitem.filter(sf.col("l_shipdate").isNotNull)
      .groupBy(sf.col("l_orderkey").as("k"))
      .agg(sf.max(sf.expr(
        "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"))
        .as("close_d"))
    val deltas = opens.select(sf.col("open_d").as("day"), sf.lit(1L).as("op"),
        sf.lit(0L).as("cl"))
      .unionByName(opens.join(closes, "k")
        .select(sf.col("close_d").as("day"), sf.lit(0L).as("op"),
          sf.lit(1L).as("cl")))
      .groupBy("day").agg(sf.sum("op").cast("long").as("n_opened"),
        sf.sum("cl").cast("long").as("n_closed"))
      .localCheckpoint(true) // bounds + grid join read it
    val bounds = deltas.agg(sf.min("day").as("lo"), sf.max("day").as("hi"))
    val Chunk = 8192L
    val grid = bounds
      .select(sf.col("hi"),
        sf.explode(sf.sequence(sf.col("lo"), sf.col("hi"), sf.lit(Chunk)))
          .as("__cs"))
      .select(sf.explode(sf.sequence(sf.col("__cs"),
        sf.least(sf.col("__cs") + (Chunk - 1), sf.col("hi")))).as("day"))
    val w = Window.partitionBy(sf.pmod(sf.col("day"), sf.lit(1)))
      .orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(deltas, Seq("day"), "left")
      .select(sf.col("day"),
        sf.coalesce(sf.col("n_opened"), sf.lit(0L)).as("n_opened"),
        sf.coalesce(sf.col("n_closed"), sf.lit(0L)).as("n_closed"))
      .withColumn("backlog",
        sf.sum(sf.col("n_opened") - sf.col("n_closed")).over(w).cast("long"))
      .select(sf.date_format(sf.timestamp_micros(sf.col("day") * 86400000000L),
          "yyyy-MM-dd").as("date"),
        sf.col("n_opened"), sf.col("n_closed"), sf.col("backlog"))
      .orderBy("date")
  }

  /** Laspeyres / Paasche / Fisher price indices (the CPI trinity)
    * between the first and second half of the data's time range —
    * "did PRICES move, holding the BASKET fixed": Laspeyres weights
    * by period-1 quantities (what the old basket costs now), Paasche
    * by period-2 quantities, Fisher their geometric mean (the
    * superlative index); only parts traded in BOTH periods enter
    * (matched-model, the standard practice). The number a
    * revenue-delta readout (row 436) can't give — revenue moves when
    * EITHER prices or volumes move; indices isolate price.
    *
    * Determinism: the period cut is (min+max)/2 of the exact epoch
    * range (integer division); per-(part, period) value/quantity sums
    * are exact cents / 1e-4 integers; each part's four index terms
    * (unit price × base quantity) are pinned doubles SNAPPED to 1e-2
    * longs before the cross-part sums (float partials are partition-
    * order-dependent); the three indices are one pinned division
    * each, 1e-6. Fewer than 1 matched parts → NULL indices.
    *
    * Scale shape: one combinable (part, period) rollup + a self
    * equi join on part (matched-model) + one-row finishes. */
  def priceIndices(df: DataFrame, itemCol: String, tsCol: String,
                   qtyCol: String, amountCol: String): DataFrame = {
    val rows = df.filter(sf.col(tsCol).isNotNull && sf.col(itemCol).isNotNull &&
        sf.col(qtyCol).cast("double") > 0 && sf.col(amountCol).isNotNull)
      .select(sf.col(itemCol).as("item"),
        sf.unix_micros(sf.col(tsCol).cast("timestamp")).as("us"),
        sf.floor(sf.col(qtyCol).cast("double") * 1e4 + 0.5).cast("long").as("q4"),
        sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long")
          .as("p2c"))
      .localCheckpoint(true) // bounds + per-period rollups read it
    val cut = rows.agg(
      sf.expr("CAST((min(us) + max(us)) DIV 2 AS BIGINT)").as("__cut"))
    val per = rows.crossJoin(sf.broadcast(cut))
      .withColumn("__p", (sf.col("us") >= sf.col("__cut")).cast("int"))
      .groupBy("item", "__p")
      .agg(sf.sum(dec(sf.col("p2c"))).cast("decimal(38,0)").as("pv"),
        sf.sum(dec(sf.col("q4"))).cast("decimal(38,0)").as("qv"))
    val matched = per.filter(sf.col("__p") === 0)
      .select(sf.col("item"), sf.col("pv").as("pv1"), sf.col("qv").as("qv1"))
      .join(per.filter(sf.col("__p") === 1)
        .select(sf.col("item"), sf.col("pv").as("pv2"), sf.col("qv").as("qv2")),
        "item")
    def u(pv: String, qv: String) = // unit price in dollars, pinned
      sf.col(pv).cast("double") / 100.0 / (sf.col(qv).cast("double") / 1e4)
    def term(unit: org.apache.spark.sql.Column, qv: String) =
      sf.floor(unit * (sf.col(qv).cast("double") / 1e4) * 100 + 0.5).cast("long")
    val sums = matched.select(
        term(u("pv2", "qv2"), "qv1").as("__l2"),
        term(u("pv1", "qv1"), "qv1").as("__l1"),
        term(u("pv2", "qv2"), "qv2").as("__pa2"),
        term(u("pv1", "qv1"), "qv2").as("__pa1"))
      .agg(sf.count(sf.lit(1)).as("n_matched_items"),
        sf.sum(dec(sf.col("__l2"))).as("l2"), sf.sum(dec(sf.col("__l1"))).as("l1"),
        sf.sum(dec(sf.col("__pa2"))).as("pa2"),
        sf.sum(dec(sf.col("__pa1"))).as("pa1"))
    sums.select({
      val lasp = sf.col("l2").cast("double") / sf.col("l1").cast("double")
      val paas = sf.col("pa2").cast("double") / sf.col("pa1").cast("double")
      val ok = sf.col("n_matched_items") > 0 && sf.col("l1") > 0 &&
        sf.col("pa1") > 0
      Seq(sf.col("n_matched_items"),
        sf.when(ok, gf.roundAt(lasp, 6)).as("laspeyres"),
        sf.when(ok, gf.roundAt(paas, 6)).as("paasche"),
        sf.when(ok, gf.roundAt(sf.sqrt(lasp * paas), 6)).as("fisher"))
    }: _*)
  }

  /** Price–volume bridge per group between the halves of the data's
    * time range — the FP&A revenue-change decomposition the index
    * trinity ([[priceIndices]]) deliberately abstracts away from:
    * for each group (brand, segment, …), ΔRevenue splits into a
    * PRICE effect (Δp̄ · q₀ — what repricing the old volume costs),
    * a VOLUME effect (p̄₀ · Δq — what the volume change is worth at
    * old prices) and the joint CROSS effect (Δp̄ · Δq), which sum
    * back to ΔRevenue — the waterfall chart behind every "why is
    * revenue up 7%" review, in currency, not index points.
    *
    * Determinism: the period cut is (min+max)/2 of the exact epoch
    * range (integer division, the row 459 convention); per-(group,
    * period) revenue/quantity sums are exact cents / 1e-4 integers;
    * unit prices and the three effects are ONE pinned double assembly
    * each, rounded 1e-4 (revenues 1e-2; ΔRevenue is an exact integer
    * difference). A group traded in only one period reports its
    * revenues and exact ΔRevenue with NULL effects (no fake price on
    * an absent basket — the new/exited-line rows of the waterfall).
    *
    * Scale shape: one combinable (group, period) rollup over the fact
    * scan + a group-domain self full-outer join + a map-only finish —
    * the row 459 plan with the matched-model filter relaxed. */
  def priceVolumeBridge(df: DataFrame, groupCol: String, tsCol: String,
                        qtyCol: String, amountCol: String): DataFrame = {
    val rows = df.filter(sf.col(tsCol).isNotNull && sf.col(groupCol).isNotNull &&
        sf.col(qtyCol).cast("double") > 0 && sf.col(amountCol).isNotNull)
      .select(sf.col(groupCol).cast("string").as("grp"),
        sf.unix_micros(sf.col(tsCol).cast("timestamp")).as("us"),
        sf.floor(sf.col(qtyCol).cast("double") * 1e4 + 0.5).cast("long").as("q4"),
        sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long")
          .as("r2c"))
      .localCheckpoint(true) // bounds + the per-period rollup read it
    val cut = rows.agg(
      sf.expr("CAST((min(us) + max(us)) DIV 2 AS BIGINT)").as("__cut"))
    val per = rows.crossJoin(sf.broadcast(cut))
      .withColumn("__p", (sf.col("us") >= sf.col("__cut")).cast("int"))
      .groupBy("grp", "__p")
      .agg(sf.sum(dec(sf.col("r2c"))).cast("long").as("rv"),
        sf.sum(dec(sf.col("q4"))).cast("long").as("qv"))
    val both = per.filter(sf.col("__p") === 0)
      .select(sf.col("grp"), sf.col("rv").as("r0"), sf.col("qv").as("q0"))
      .join(per.filter(sf.col("__p") === 1)
        .select(sf.col("grp"), sf.col("rv").as("r1"), sf.col("qv").as("q1")),
        Seq("grp"), "full_outer")
    both.select({
      def d(name: String) = sf.coalesce(sf.col(name), sf.lit(0L))
      val pbar0 = (d("r0").cast("double") / 100.0) /
        (d("q0").cast("double") / 1e4)
      val pbar1 = (d("r1").cast("double") / 100.0) /
        (d("q1").cast("double") / 1e4)
      val dp = pbar1 - pbar0
      val dq = (d("q1") - d("q0")).cast("double") / 1e4
      val ok = d("q0") > 0L && d("q1") > 0L
      Seq(sf.col("grp").as(groupCol),
        gf.roundAt(d("r0").cast("double") / 100, 2).as("revenue_p0"),
        gf.roundAt(d("r1").cast("double") / 100, 2).as("revenue_p1"),
        gf.roundAt((d("r1") - d("r0")).cast("double") / 100, 2)
          .as("delta_revenue"),
        sf.when(ok, gf.roundAt(dp * (d("q0").cast("double") / 1e4), 4))
          .as("price_effect"),
        sf.when(ok, gf.roundAt(pbar0 * dq, 4)).as("volume_effect"),
        sf.when(ok, gf.roundAt(dp * dq, 4)).as("cross_effect"))
    }: _*)
      .orderBy(groupCol)
  }

  /** Basket-size distribution + Poisson fit — line-count histogram
    * per order against the Poisson share p_k = λᵏ/(k!·(e^λ−1))
    * conditional on k ≥ 1 (orders exist only with lines — the
    * ZERO-TRUNCATED support), with λ the plain sample-mean moment fit
    * (the standard quick screen; its truncation bias is the point of
    * reading the table): where observed ≫ expected is the
    * multi-line-heavy tail a Poisson order process can't produce —
    * the row 333 dispersion question asked of BASKETS instead of
    * time bins.
    *
    * Determinism: counts exact; λ and ln(e^λ−1) are one pinned double
    * chain from exact integers (identical in both engines); ln k!
    * accumulates 1e-9-snapped per-integer lns over the DENSE bounded
    * k grid (a gap would skip factorial terms); shares pinned 1e-6.
    *
    * Scale shape: one per-order rollup + a k-domain collapse + one
    * bounded-domain window — lines shuffle once. */
  def basketSizeFit(lines: DataFrame,
                    orderCol: String = "l_orderkey"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = lines.filter(sf.col(orderCol).isNotNull)
      .groupBy(sf.col(orderCol).as("o")).agg(sf.count(sf.lit(1)).as("k"))
      .groupBy("k").agg(sf.count(sf.lit(1)).as("__n"))
      .localCheckpoint(true) // moments + the fill join read it
    val mom = hist.agg(sf.sum("__n").cast("long").as("n"),
        sf.sum(sf.col("k") * sf.col("__n")).cast("long").as("s"),
        sf.max("k").cast("long").as("kmax"))
      .collect()(0)
    val (n, s, kmax) = (mom.getLong(0), mom.getLong(1), mom.getLong(2))
    require(n >= 1, "basketSizeFit: no orders")
    val lambda = s.toDouble / n.toDouble
    val lnLambda = math.log(lambda)
    val lnDen = math.log(math.exp(lambda) - 1.0) // ln(e^l - 1), pinned
    val spark = lines.sparkSession
    val grid = spark.range(1L, kmax + 1).select(sf.col("id").as("k"))
      .join(hist, Seq("k"), "left")
      .select(sf.col("k"), sf.coalesce(sf.col("__n"), sf.lit(0L)).as("n_orders"))
    val wk = Window.partitionBy(sf.pmod(sf.hash(sf.col("k")), sf.lit(1)))
      .orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("__lf9", sf.sum(
        sf.floor(sf.log(sf.col("k").cast("double")) * 1e9 + 0.5).cast("long"))
        .over(wk))
      .select(sf.col("k").as("basket_size"), sf.col("n_orders"),
        gf.roundAt(sf.col("n_orders").cast("double") / n.toDouble, 6)
          .as("share"),
        gf.roundAt(sf.exp(sf.col("k").cast("double") * lnLambda -
          sf.col("__lf9").cast("double") / 1e9 - lnDen), 6).as("ztp_share"))
      .orderBy("basket_size")
  }

  /** New-vs-repeat revenue split per month — each month's revenue
    * divided by whether the ordering customer's FIRST-EVER order
    * falls in that month: the acquisition-vs-retention finance ledger
    * (row 478's growth accounting counts USERS; finance wants the
    * dollars, and "repeat share rising" is the retention story a
    * topline row 436 can't tell).
    *
    * Determinism: first-order month is an exact min over (epoch
    * month) integers; revenue rides exact cents; shares are pinned
    * divisions 1e-6.
    *
    * Scale shape: one per-customer first-month rollup (map-side
    * combinable min) + one keyed attach on the order stream + one
    * month-domain collapse — orders shuffle once. */
  def repeatRevenueSplit(orders: DataFrame, custCol: String = "o_custkey",
                         tsCol: String = "o_orderdate",
                         amountCol: String = "o_totalprice"): DataFrame = {
    val mon = sf.date_format(sf.date_trunc("month", sf.col(tsCol)), "yyyy-MM")
    val rows = orders.filter(sf.col(custCol).isNotNull && sf.col(tsCol).isNotNull
        && sf.col(amountCol).isNotNull)
      .select(sf.col(custCol).as("cust"), mon.as("month"),
        sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long")
          .as("__c2"))
      .localCheckpoint(true) // firsts + the split read it
    val firsts = rows.groupBy("cust").agg(sf.min("month").as("__m0"))
    rows.join(firsts, "cust")
      .groupBy("month")
      .agg(sf.sum("__c2").cast("long").as("__tot"),
        sf.sum(sf.when(sf.col("month") === sf.col("__m0"), sf.col("__c2"))
          .otherwise(0L)).cast("long").as("__new"),
        sf.count(sf.lit(1)).as("n_orders"))
      .select(sf.col("month"), sf.col("n_orders"),
        gf.roundAt(sf.col("__tot").cast("double") / 100, 2).as("revenue"),
        gf.roundAt(sf.col("__new").cast("double") / 100, 2).as("new_revenue"),
        gf.roundAt((sf.col("__tot") - sf.col("__new")).cast("double") / 100, 2)
          .as("repeat_revenue"),
        sf.when(sf.col("__tot") > 0, gf.roundAt(
          (sf.col("__tot") - sf.col("__new")).cast("double") /
            sf.col("__tot").cast("double"), 6)).as("repeat_share"))
      .orderBy("month")
  }

  /** Spend-segment MIGRATION matrix — customers bucketed into spend
    * quantile segments in each half of the time range, cross-tabbed:
    * how many seg-5 whales of H1 stayed whales, slid, or CHURNED
    * (absent in H2), and where H2's spenders CAME from (absent = new)
    * — the lifecycle flow row 378's point-in-time RFM freezes and row
    * 478's growth accounting counts only in aggregate. Segment 0 is
    * the explicit absent state, so churn and acquisition are cells,
    * not footnotes.
    *
    * Determinism: per-(customer, half) spend rides exact cents;
    * segment = ((rank−1)·nSeg) div n_half + 1 on the exact (spend,
    * customer) order — pure integer arithmetic (the row 391 decile
    * rule); shares are pinned divisions 1e-6. Per-half ranks come
    * from ONE row-135 range-partitioned prefix sum minus broadcast
    * half offsets — never a one-task window over customers.
    *
    * Scale shape: one (customer, half) rollup + one range-shuffle
    * rank pass + a customer-keyed full-outer self join + a
    * segment-domain collapse (≤ (nSeg+1)² cells). */
  def segmentMigration(orders: DataFrame, custCol: String = "o_custkey",
                       tsCol: String = "o_orderdate",
                       amountCol: String = "o_totalprice",
                       nSegments: Int = 5): DataFrame = {
    require(nSegments >= 2 && nSegments <= 100,
      s"segmentMigration: nSegments must be in [2, 100], got $nSegments")
    val rows = orders.filter(sf.col(custCol).isNotNull && sf.col(tsCol).isNotNull
        && sf.col(amountCol).isNotNull)
      .select(sf.col(custCol).as("cust"),
        sf.unix_micros(sf.col(tsCol).cast("timestamp")).as("us"),
        sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long")
          .as("__c2"))
      .localCheckpoint(true) // bounds + the per-half rollup read it
    val cut = rows.agg(
      sf.expr("CAST((min(us) + max(us)) DIV 2 AS BIGINT)").as("__cut"))
    val spend = rows.crossJoin(sf.broadcast(cut))
      .select(sf.col("cust"), (sf.col("us") >= sf.col("__cut")).cast("int")
        .as("h"), sf.col("__c2"))
      .groupBy("h", "cust").agg(sf.sum("__c2").cast("long").as("sp"))
    val ranked = graft.operators.StarSchema.globalPrefixSums(
      spend.withColumn("__one", sf.lit(1L)), Seq("h", "sp", "cust"), "__one",
      "__grk")
    val totals = ranked.groupBy("h").agg(sf.max("__grk").cast("long").as("__hi"),
        sf.count(sf.lit(1)).cast("long").as("__n"))
      .select(sf.col("h"), sf.col("__n"), (sf.col("__hi") - sf.col("__n"))
        .as("__off"))
    val seg = ranked.join(sf.broadcast(totals), "h")
      .select(sf.col("cust"), sf.col("h"),
        sf.expr(s"CAST(((__grk - __off - 1) * $nSegments) DIV __n + 1 AS INT)")
          .as("seg"))
    val m = seg.filter(sf.col("h") === 0)
      .select(sf.col("cust"), sf.col("seg").as("__s0"))
      .join(seg.filter(sf.col("h") === 1)
        .select(sf.col("cust").as("__c1"), sf.col("seg").as("__s1")),
        sf.col("cust") === sf.col("__c1"), "full_outer")
      .select(sf.coalesce(sf.col("__s0"), sf.lit(0)).as("seg_first"),
        sf.coalesce(sf.col("__s1"), sf.lit(0)).as("seg_second"))
      .groupBy("seg_first", "seg_second")
      .agg(sf.count(sf.lit(1)).cast("long").as("n_customers"))
      .localCheckpoint(true) // row totals + shares read it
    val rowTot = m.groupBy(sf.col("seg_first").as("__sf"))
      .agg(sf.sum("n_customers").cast("long").as("__rt"))
    m.join(sf.broadcast(rowTot), sf.col("seg_first") === sf.col("__sf"))
      .select(sf.col("seg_first"), sf.col("seg_second"), sf.col("n_customers"),
        gf.roundAt(sf.col("n_customers").cast("double") /
          sf.col("__rt").cast("double"), 6).as("row_share"))
      .orderBy("seg_first", "seg_second")
  }

  /** Basket brand-diversity profile — per-order Shannon entropy of
    * the brand mix, rolled up by basket size: do 10-line orders
    * concentrate in one brand (entropy → 0, replenishment behavior)
    * or spread across many (entropy → ln n, browse/assortment
    * behavior) — the within-basket composition readout rows 156/351
    * (co-occurrence/rules, cross-basket) and row 130's CUBE
    * (aggregate mix) can't give, and the assortment-planning number
    * beside row 481's supplier concentration.
    *
    * Determinism: per-(order, brand) counts are exact; each order's
    * entropy terms −(c/n)ln(c/n) snap to 1e-9 longs BEFORE the
    * within-order sum (the cross-row snap rule) and order entropies
    * sum exactly per basket size; means are pinned divisions 1e-6.
    *
    * Scale shape: one (order, brand) rollup + one order rollup + one
    * basket-size rollup — lines shuffle once, on the order key
    * they're clustered by. */
  def basketDiversity(lines: DataFrame, orderCol: String = "l_orderkey",
                      brandCol: String = "p_brand"): DataFrame = {
    val ob = lines.filter(sf.col(orderCol).isNotNull && sf.col(brandCol).isNotNull)
      .groupBy(sf.col(orderCol).as("o"), sf.col(brandCol).as("b"))
      .agg(sf.count(sf.lit(1)).as("c"))
    val totals = ob.groupBy("o").agg(sf.sum("c").cast("long").as("n"),
      sf.count(sf.lit(1)).cast("long").as("nb"))
    val perOrder = ob.join(totals, "o")
      .select(sf.col("o"), sf.col("n"), sf.col("nb"),
        sf.floor(-(sf.col("c").cast("double") / sf.col("n").cast("double")) *
          sf.log(sf.col("c").cast("double") / sf.col("n").cast("double")) *
          1e9 + 0.5).cast("long").as("__h9"))
      .groupBy("o", "n", "nb")
      .agg(sf.sum(dec(sf.col("__h9"))).as("__e9"))
    perOrder.groupBy(sf.col("n").as("basket_size"))
      .agg(sf.count(sf.lit(1)).cast("long").as("n_orders"),
        sf.sum(sf.col("__e9")).as("__se9"),
        sf.sum("nb").cast("long").as("__snb"))
      .select(sf.col("basket_size"), sf.col("n_orders"),
        gf.roundAt(sf.col("__se9").cast("double") /
          sf.col("n_orders").cast("double") / 1e9, 6).as("mean_entropy"),
        gf.roundAt(sf.col("__snb").cast("double") /
          sf.col("n_orders").cast("double"), 6).as("mean_brands"))
      .orderBy("basket_size")
  }

  /** Period-over-period revenue deltas — monthly totals with
    * month-over-month and year-over-year changes, the first page of
    * every revenue review: MoM catches operational shifts, YoY reads
    * through seasonality, and a month missing its comparison period
    * reports NULL (no silent zero — a gap month is not a flat month).
    *
    * Determinism: month = date_trunc on the raw timestamp; totals are
    * exact cents; deltas are exact integer differences and pct
    * changes are pinned divisions rounded 1e-6.
    *
    * Scale shape: one combinable month rollup + TWO broadcast-shaped
    * self equi joins (lag-1, lag-12 on the month key) — the row 287
    * lag-join shape, no window, no sort; the month domain is
    * calendar-bounded so both join sides are tiny. */
  def periodOverPeriod(df: DataFrame, tsCol: String,
                       amountCol: String): DataFrame = {
    val m = df.filter(sf.col(tsCol).isNotNull)
      .select(sf.date_format(sf.date_trunc("month", sf.col(tsCol)),
        "yyyy-MM").as("month"),
        sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long")
          .as("__cents"))
      .groupBy("month").agg(sf.sum("__cents").cast("long").as("__amt"))
      .localCheckpoint(true) // three readers
    def shift(k: Int, as: String) = m.select(
      sf.date_format(sf.add_months(sf.to_date(sf.concat(sf.col("month"),
        sf.lit("-01"))), k), "yyyy-MM").as("month"),
      sf.col("__amt").as(as))
    def pct(cur: org.apache.spark.sql.Column, prev: org.apache.spark.sql.Column) =
      sf.when(prev =!= 0L, gf.roundAt((cur - prev).cast("double") /
        sf.abs(prev).cast("double"), 6))
    m.join(shift(1, "__prev"), Seq("month"), "left")
      .join(shift(12, "__yago"), Seq("month"), "left")
      .select(sf.col("month"),
        gf.roundAt(sf.col("__amt").cast("double") / 100, 2).as("revenue"),
        gf.roundAt((sf.col("__amt") - sf.col("__prev")).cast("double") / 100, 2)
          .as("mom_delta"),
        pct(sf.col("__amt"), sf.col("__prev")).as("mom_pct"),
        gf.roundAt((sf.col("__amt") - sf.col("__yago")).cast("double") / 100, 2)
          .as("yoy_delta"),
        pct(sf.col("__amt"), sf.col("__yago")).as("yoy_pct"))
      .orderBy("month")
  }

  /** Newsvendor stocking table per group (Arrow et al. 1951; the
    * critical-fractile rule) — the inventory question the demand
    * HISTOGRAM exists to answer: with underage cost cu (lost margin
    * per unit short) and overage cost co (holding/salvage loss per
    * unit over), the optimal single-period stock is the demand
    * quantile at the CRITICAL FRACTILE cu/(cu+co); computed on the
    * exact per-day demand distribution: stock level = the smallest
    * observed daily demand whose cumulative day share reaches the
    * fractile (the row 386 nearest-rank convention), beside the
    * achieved service level (share of days fully served) and mean
    * demand for the naive-stocking comparison.
    *
    * Determinism: demand = exact 1e-4-grid quantity sums per (group,
    * epoch day); the threshold comparison is exact integers (cum·
    * (cu+co) ≥ n·cu on the 1e-6 fractile grid); outputs pinned 1e-6.
    *
    * Scale shape: one (group, day) rollup, then DOMAIN work only —
    * the (group, demand-level) distinct domain (≤ days per group)
    * with one bounded cumulative and a per-group argmin. */
  def newsvendorStock(lines: DataFrame, groupCol: String, dateCol: String,
                      qtyCol: String, cu: Double = 4.0,
                      co: Double = 1.0): DataFrame = {
    require(cu > 0 && co > 0, s"costs must be > 0, got cu=$cu co=$co")
    val frac6 = math.round(cu / (cu + co) * 1e6) // pinned 1e-6 fractile
    val daily = lines
      .filter(sf.col(groupCol).isNotNull && sf.col(dateCol).isNotNull &&
        sf.col(qtyCol).isNotNull)
      .groupBy(sf.col(groupCol).as("grp"),
        sf.expr(s"unix_micros(CAST($dateCol AS TIMESTAMP)) div 86400000000")
          .as("__day"))
      .agg(sf.sum(sf.floor(sf.col(qtyCol).cast("double") * 1e4 + 0.5)
        .cast("long")).as("__d4"))
    val levels = daily.groupBy("grp", "__d4")
      .agg(sf.count(sf.lit(1)).as("__nd"))
    val w = Window.partitionBy("grp").orderBy("__d4")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = levels
      .withColumn("__cum", sf.sum("__nd").over(w))
      .localCheckpoint(true) // totals + the fractile probe read it
    val totals = cum.groupBy(sf.col("grp").as("__g"))
      .agg(sf.max("__cum").as("__n"), // total days
        sf.sum(dec(sf.col("__d4")) * sf.col("__nd")).as("__sum4"))
    cum.join(sf.broadcast(totals), sf.col("grp") === sf.col("__g"))
      .filter(dec(sf.col("__cum")) * 1000000L >= dec(sf.col("__n")) * frac6)
      .groupBy(sf.col("grp").as(groupCol))
      .agg(sf.min(sf.col("__d4")).as("__q4"),
        sf.max(sf.col("__n")).as("__nt"),
        sf.max(sf.col("__sum4")).as("__s4"))
      .join(sf.broadcast(cum.select(sf.col("grp").as("__g2"),
        sf.col("__d4").as("__l4"), sf.col("__cum").as("__c2"))),
        sf.col(groupCol) === sf.col("__g2") && sf.col("__q4") === sf.col("__l4"))
      .select(sf.col(groupCol),
        sf.col("__nt").cast("long").as("n_days"),
        gf.roundAt(sf.col("__s4").cast("double") / 1e4 /
          sf.col("__nt").cast("double"), 6).as("mean_daily_demand"),
        gf.roundAt(sf.lit(frac6 / 1e6), 6).as("critical_fractile"),
        gf.roundAt(sf.col("__q4").cast("double") / 1e4, 6).as("stock_level"),
        gf.roundAt(sf.col("__c2").cast("double") /
          sf.col("__nt").cast("double"), 6).as("achieved_service_level"))
      .orderBy(groupCol)
  }

  /** Chain-ladder development projection (the actuarial reserving
    * workhorse; Mack 1993 for its statistical reading) over an
    * order->fulfillment cohort TRIANGLE: cohorts = order months,
    * development age = months from order to line shipment, value =
    * shipped cents; the all-cohort volume-weighted development
    * factors f_a = ΣC(·,a+1)/ΣC(·,a) (summed over cohorts observed at
    * BOTH ages) project every cohort's cumulative-to-date to ULTIMATE,
    * and reserve = ultimate − observed is the IBNR analog: "how much
    * of each month's demand is still in flight", answerable the day
    * the month closes instead of after maxAge months — the projection
    * question row 470's backlog level and row 476's lead-time
    * percentiles don't ask.
    *
    * Determinism: cents and month indices exact integers; cumulative
    * ages a bounded per-cohort window; each factor ONE pinned 1e-6
    * division of exact DECIMAL sums; the remaining-factor product
    * rides exp(Σ snapped-1e-9 ln f) (exact sum, one exp — the row 526
    * factorial convention applied to factors); ultimate/reserve
    * pinned 1e-2. Ages outside [0, maxAge] are dropped (documented
    * truncation).
    *
    * Scale shape: one (cohort, age) rollup from the corpus, then
    * TRIANGLE-domain work only (months x maxAge cells): bounded
    * cumulative, one age-keyed factor join, one cohort rollup. */
  def chainLadder(lines: DataFrame, cohortDateCol: String,
                  eventDateCol: String, amountCol: String,
                  maxAge: Int = 12): DataFrame = {
    require(maxAge >= 1 && maxAge <= 120, s"maxAge in [1,120], got $maxAge")
    def monthOf(c: String) = sf.expr(
      s"(year(CAST($c AS TIMESTAMP)) - 1970) * 12 + month(CAST($c AS TIMESTAMP)) - 1")
    val cells = lines
      .filter(sf.col(cohortDateCol).isNotNull && sf.col(eventDateCol).isNotNull &&
        sf.col(amountCol).isNotNull)
      .select(monthOf(cohortDateCol).as("cohort"),
        (monthOf(eventDateCol) - monthOf(cohortDateCol)).as("age"),
        sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long").as("__c2"))
      .filter(sf.col("age") >= 0 && sf.col("age") <= maxAge)
      .groupBy("cohort", "age")
      .agg(sf.sum(dec(sf.col("__c2"))).as("__inc"))
    val wc = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // dense age grid per cohort so cumulatives carry across silent ages.
    // The aggregate over zero surviving cells is a single NULL row —
    // return the empty frame (sibling convention) instead of NPE-ing
    // on getInt.
    val maxRow = cells.agg(sf.max(sf.col("cohort") + sf.col("age"))).head()
    if (maxRow.isNullAt(0))
      return cells.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cohort_month",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("latest_age",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("observed",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("ultimate",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("reserve",
            org.apache.spark.sql.types.DoubleType))))
    val maxMonth = maxRow.getInt(0)
    val cum = cells.groupBy("cohort").agg(sf.lit(1).as("__one"))
      .select(sf.col("cohort"),
        sf.explode(sf.sequence(sf.lit(0),
          sf.least(sf.lit(maxAge), sf.lit(maxMonth) - sf.col("cohort")))).as("age"))
      .join(cells, Seq("cohort", "age"), "left")
      .withColumn("__inc", sf.coalesce(sf.col("__inc"), dec(sf.lit(0L))))
      .withColumn("cum", sf.sum("__inc").over(wc))
      .localCheckpoint(true) // factors (twice, lagged) + the finish read it
    // volume-weighted factors over cohorts observed at BOTH ages
    val nxt = cum.select(sf.col("cohort").as("__c1"), (sf.col("age") - 1).as("__a1"),
      sf.col("cum").as("__cn"))
    val factors = cum.join(nxt,
        sf.col("cohort") === sf.col("__c1") && sf.col("age") === sf.col("__a1"))
      .groupBy("age")
      .agg(sf.sum("__cn").as("__num"), sf.sum("cum").as("__den"))
      .filter(sf.col("__den") > 0)
      .select(sf.col("age").as("__fa"),
        gf.roundAt(sf.col("__num").cast("double") /
          sf.col("__den").cast("double"), 6).as("f"))
      .withColumn("__lnf9",
        sf.floor(sf.log(sf.col("f")) * 1e9 + 0.5).cast("long"))
    val latest = cum.groupBy("cohort")
      .agg(sf.max("age").as("latest_age"))
      .join(cum.select(sf.col("cohort").as("__c2c"), sf.col("age").as("__a2"),
        sf.col("cum").as("observed")),
        sf.col("cohort") === sf.col("__c2c") && sf.col("latest_age") === sf.col("__a2"))
      .select("cohort", "latest_age", "observed")
    latest.join(sf.broadcast(factors),
        sf.col("__fa") >= sf.col("latest_age"), "left")
      .groupBy("cohort", "latest_age", "observed")
      .agg(sf.sum(dec(sf.coalesce(sf.col("__lnf9"), sf.lit(0L)))).as("__sln"))
      .select(sf.col("cohort").cast("long").as("cohort_month"),
        sf.col("latest_age").cast("long").as("latest_age"),
        gf.roundAt(sf.col("observed").cast("double") / 100, 2).as("observed"),
        gf.roundAt(sf.col("observed").cast("double") / 100 *
          sf.exp(sf.col("__sln").cast("double") / 1e9), 2).as("ultimate"))
      .withColumn("reserve",
        gf.roundAt(sf.col("ultimate") - sf.col("observed"), 2))
      .orderBy("cohort_month")
  }

  /** LMDI-I multiplicative-KPI driver decomposition (Ang 2005, the
    * log-mean Divisia index; Vartia 1976 for the log mean) between
    * the two HALVES of the data's time range (the row 459 split
    * convention): revenue = customers x orders-per-customer x
    * revenue-per-order, and each factor's CONTRIBUTION to the revenue
    * change is L(R_A, R_B) * ln(x_B/x_A) with L the logarithmic mean
    * — the ONLY decomposition that is exactly additive with no
    * residual (contributions sum to R_B − R_A in exact arithmetic):
    * the FP&A "why did revenue move" waterfall, principled. Row 452's
    * elasticity asks how x moves y; this allocates an OBSERVED move.
    *
    * Determinism: cents and counts exact; factor values, the log
    * mean, and each contribution are pinned assemblies 1e-6/1e-2
    * (the additivity check in the spec allows only the rounding
    * residual); degenerate halves (zero revenue or customers) -> NULL
    * contributions, oracle-guarded identically.
    *
    * Scale shape: two one-row half-rollups (map-side combinable) and
    * a 3-row literal-factor finish — corpus touched once. */
  def kpiLmdi(orders: DataFrame, dateCol: String, custCol: String,
              amountCol: String): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val base = orders.filter(sf.col(dateCol).isNotNull &&
        sf.col(custCol).isNotNull && sf.col(amountCol).isNotNull)
      .select(sf.expr(s"unix_micros(CAST($dateCol AS TIMESTAMP))").as("__us"),
        sf.col(custCol).as("__cust"),
        sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long").as("__c2"))
      .localCheckpoint(true) // bounds + both half rollups read it
    val b = base.agg(sf.min("__us").as("__lo"), sf.max("__us").as("__hi")).head()
    val mid = b.getLong(0) / 2 + b.getLong(1) / 2 +
      (b.getLong(0) % 2 + b.getLong(1) % 2) / 2 // overflow-safe midpoint
    def half(pred: org.apache.spark.sql.Column) = base.filter(pred).agg(
      sf.count_distinct(sf.col("__cust")).as("c"),
      sf.count(sf.lit(1)).as("o"),
      sf.sum(dec(sf.col("__c2"))).as("r2"))
    val a = half(sf.col("__us") < mid).head()
    val h = half(sf.col("__us") >= mid).head()
    def snap6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def snap2(x: Double) = math.floor(x * 100 + 0.5) / 100
    val (ca, oa, ra) = (a.getLong(0), a.getLong(1),
      Option(a.get(2)).map(_.toString.toDouble / 100).getOrElse(0.0))
    val (cb, ob, rb) = (h.getLong(0), h.getLong(1),
      Option(h.get(2)).map(_.toString.toDouble / 100).getOrElse(0.0))
    val ok = ca > 0 && cb > 0 && oa > 0 && ob > 0 && ra > 0 && rb > 0
    val lm = if (!ok) 0.0
      else if (ra == rb) ra else (rb - ra) / (math.log(rb) - math.log(ra))
    def factorRow(name: String, va: Double, vb: Double) = {
      val contrib = if (ok) Some(snap2(lm * math.log(vb / va))) else None
      (name, snap6(va), snap6(vb),
        if (ok) Some(snap6(math.log(vb / va))) else None, contrib)
    }
    val rows = Seq(
      factorRow("customers", ca.toDouble, cb.toDouble),
      factorRow("orders_per_customer",
        snap6(oa.toDouble / ca), snap6(ob.toDouble / cb)),
      factorRow("revenue_per_order",
        snap6(ra / oa), snap6(rb / ob)))
    rows.toDF("factor", "value_a", "value_b", "ln_ratio", "contribution")
      .orderBy("factor")
  }

  /** Price-volume-mix revenue bridge per group between the halves of
    * the time range — the CFO waterfall: for each group (brand),
    * price effect (Δunit-price x new volume), volume effect (Δvolume
    * x the PERIOD-A OVERALL mean price) and mix effect (the group's
    * A-price premium over that mean x Δvolume); the three effects sum
    * to the group's revenue change EXACTLY in exact arithmetic
    * (identity: Δpq = (Δp)q_B + p̄_A Δq + (p_A − p̄_A)Δq), so the
    * bridge reconciles to the total with no plug. Groups absent from
    * a half enter with volume 0 and the overall mean price (standard
    * convention, documented).
    *
    * Determinism: quantity 1e-4 and cents exact sums; unit prices and
    * effects pinned 1e-6/1e-2; the spec asserts the identity to
    * rounding tolerance.
    *
    * Scale shape: two (group, half) rollups + a broadcast one-row
    * mean-price attach — corpus touched once. */
  def priceVolumeMix(lines: DataFrame, groupCol: String, dateCol: String,
                     qtyCol: String, amountCol: String): DataFrame = {
    val base = lines.filter(sf.col(groupCol).isNotNull &&
        sf.col(dateCol).isNotNull && sf.col(qtyCol).isNotNull &&
        sf.col(amountCol).isNotNull)
      .select(sf.col(groupCol).as("grp"),
        sf.expr(s"unix_micros(CAST($dateCol AS TIMESTAMP))").as("__us"),
        sf.floor(sf.col(qtyCol).cast("double") * 1e4 + 0.5).cast("long").as("__q4"),
        sf.floor(sf.col(amountCol).cast("double") * 100 + 0.5).cast("long").as("__c2"))
      .localCheckpoint(true) // bounds + both rollups read it
    val bds = base.agg(sf.min("__us").as("__lo"), sf.max("__us").as("__hi")).head()
    val mid = bds.getLong(0) / 2 + bds.getLong(1) / 2 +
      (bds.getLong(0) % 2 + bds.getLong(1) % 2) / 2
    val per = base
      .withColumn("__h", (sf.col("__us") >= mid).cast("int"))
      .groupBy("grp", "__h")
      .agg(sf.sum(dec(sf.col("__q4"))).as("q4"), sf.sum(dec(sf.col("__c2"))).as("c2"))
      .localCheckpoint(true) // mean price + both pivots read it
    val meanA = per.filter(sf.col("__h") === 0)
      .agg((sf.sum("c2").cast("double") / 100 /
        (sf.sum("q4").cast("double") / 1e4)).as("__pbar0"))
      .select(gf.roundAt(sf.col("__pbar0"), 6).as("__pbar"))
    val aSide = per.filter(sf.col("__h") === 0)
      .select(sf.col("grp"), sf.col("q4").as("qa4"), sf.col("c2").as("ca2"))
    val bSide = per.filter(sf.col("__h") === 1)
      .select(sf.col("grp").as("__g2"), sf.col("q4").as("qb4"), sf.col("c2").as("cb2"))
    aSide.join(bSide, sf.col("grp") === sf.col("__g2"), "full_outer")
      .select(sf.coalesce(sf.col("grp"), sf.col("__g2")).as(groupCol),
        sf.coalesce(sf.col("qa4"), sf.lit(0).cast("decimal(38,0)")).as("qa4"),
        sf.coalesce(sf.col("ca2"), sf.lit(0).cast("decimal(38,0)")).as("ca2"),
        sf.coalesce(sf.col("qb4"), sf.lit(0).cast("decimal(38,0)")).as("qb4"),
        sf.coalesce(sf.col("cb2"), sf.lit(0).cast("decimal(38,0)")).as("cb2"))
      .crossJoin(sf.broadcast(meanA))
      .withColumn("qa", sf.col("qa4").cast("double") / 1e4)
      .withColumn("qb", sf.col("qb4").cast("double") / 1e4)
      .withColumn("pa", sf.when(sf.col("qa4") > 0, gf.roundAt(
        sf.col("ca2").cast("double") / 100 / sf.col("qa"), 6))
        .otherwise(sf.col("__pbar")))
      .withColumn("pb", sf.when(sf.col("qb4") > 0, gf.roundAt(
        sf.col("cb2").cast("double") / 100 / sf.col("qb"), 6))
        .otherwise(sf.col("__pbar")))
      .select(sf.col(groupCol),
        gf.roundAt(sf.col("qa"), 4).as("qty_a"),
        gf.roundAt(sf.col("qb"), 4).as("qty_b"),
        sf.col("pa").as("price_a"), sf.col("pb").as("price_b"),
        gf.roundAt((sf.col("pb") - sf.col("pa")) * sf.col("qb"), 2)
          .as("price_effect"),
        gf.roundAt(sf.col("__pbar") * (sf.col("qb") - sf.col("qa")), 2)
          .as("volume_effect"),
        gf.roundAt((sf.col("pa") - sf.col("__pbar")) *
          (sf.col("qb") - sf.col("qa")), 2).as("mix_effect"),
        gf.roundAt(sf.col("cb2").cast("double") / 100 -
          sf.col("ca2").cast("double") / 100, 2).as("delta_revenue"))
      .orderBy(groupCol)
  }

  /** Croston intermittent-demand forecast per group (Croston 1972)
    * with the Syntetos–Boylan bias correction (SBA, 2005 — the same
    * paper behind row 491's quadrant classification, which tells you
    * WHEN to use this instead of exponential smoothing: lumpy/
    * intermittent series, where smoothing a mostly-zero sequence
    * drifts to zero and then spikes): smooth the NONZERO demand sizes
    * and the INTERVALS between them separately (z_t, p_t, same alpha),
    * forecast = z/p per period, SBA = (1 − alpha/2)·z/p.
    *
    * Determinism: the recursion unrolls to weighted sums z_T =
    * alpha·Σ_{j<n−1}(1−alpha)^j·size_{T−j} + (1−alpha)^{n−1}·size_1;
    * (1−alpha)^j evaluates per-row as pow of a driver-pinned base by
    * an integer rank (the engine-portable pow convention), every term
    * snaps 1e-9 before the exact sum, one pinned division at the end
    * — bit-replayable by the oracle at any parallelism.
    *
    * Scale shape: one (group, day) demand rollup, one per-group
    * nonzero-demand window (bounded by the group's demand days), one
    * combinable finish. */
  def crostonForecast(lines: DataFrame, groupCol: String, dateCol: String,
                      qtyCol: String, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val beta = 1.0 - alpha // driver-pinned base, shared with the oracle
    val daily = lines
      .filter(sf.col(groupCol).isNotNull && sf.col(dateCol).isNotNull &&
        sf.col(qtyCol).isNotNull)
      .groupBy(sf.col(groupCol).as("grp"),
        sf.expr(s"unix_micros(CAST($dateCol AS TIMESTAMP)) div 86400000000")
          .as("__day"))
      .agg(sf.sum(sf.floor(sf.col(qtyCol).cast("double") * 1e4 + 0.5)
        .cast("long")).as("__d4"))
      .filter(sf.col("__d4") > 0) // Croston sees only demand points
    val w = Window.partitionBy("grp").orderBy(sf.col("__day").desc)
    val wAsc = Window.partitionBy("grp").orderBy(sf.col("__day"))
    val pts = daily
      .withColumn("__j", sf.row_number().over(w) - 1) // 0 = latest
      .withColumn("__gap",
        sf.col("__day") - sf.lag("__day", 1).over(wAsc)) // null at first
      .localCheckpoint(true) // size + interval sums read it
    val n = sf.col("__n")
    def smooth(valCol: org.apache.spark.sql.Column,
               jCol: org.apache.spark.sql.Column,
               nCol: org.apache.spark.sql.Column) =
      sf.floor(
        sf.when(jCol === nCol - 1, sf.pow(sf.lit(beta), jCol.cast("double")))
          .otherwise(sf.lit(alpha) * sf.pow(sf.lit(beta), jCol.cast("double")))
        * valCol * 1e9 + 0.5).cast("long")
    // sizes: all n points; intervals: the n−1 gaps (ranks shift by 1 —
    // the latest gap gets weight alpha, the oldest the init weight)
    val sized = pts
      .join(sf.broadcast(pts.groupBy(sf.col("grp").as("__g"))
        .agg(sf.count(sf.lit(1)).as("__n"))), sf.col("grp") === sf.col("__g"))
      .select(sf.col("grp"), sf.col("__n"),
        smooth(sf.col("__d4").cast("double") / 1e4, sf.col("__j"), n).as("__z9"),
        sf.when(sf.col("__gap").isNotNull,
          smooth(sf.col("__gap").cast("double"), sf.col("__j"), n - 1)).as("__p9"))
    sized.groupBy("grp")
      .agg(sf.max("__n").as("__nn"),
        sf.sum(dec(sf.col("__z9"))).as("__sz9"),
        sf.sum(dec(sf.col("__p9"))).as("__sp9"))
      .filter(sf.col("__nn") >= 2)
      .select(sf.col("grp").as(groupCol),
        sf.col("__nn").cast("long").as("n_demand_points"),
        gf.roundAt(sf.col("__sz9").cast("double") / 1e9, 6).as("z_smooth"),
        gf.roundAt(sf.col("__sp9").cast("double") / 1e9, 6).as("p_smooth"),
        gf.roundAt(sf.col("__sz9").cast("double") /
          sf.col("__sp9").cast("double"), 6).as("croston_forecast"),
        gf.roundAt(sf.lit(1.0 - alpha / 2) * sf.col("__sz9").cast("double") /
          sf.col("__sp9").cast("double"), 6).as("sba_forecast"))
      .orderBy(groupCol)
  }

  /** 2-D skyline / Pareto front (Borzsony, Kossmann & Stocker ICDE
    * 2001 — the SKYLINE database operator), minimize-both convention:
    * every row no other row dominates (<= in both dims, < in at
    * least one) — the "show me the undominated offers" query
    * (cheapest-for-its-size part, fastest-for-its-price supplier)
    * that no GROUP BY can express; exact duplicates of a skyline
    * point are all on the skyline (domination needs a strict edge).
    * Maximize a dimension by negating it at the call site.
    *
    * Determinism: values snap to the 1e-4 grid; membership is pure
    * integer order logic — a point survives iff it holds the minimum
    * y AT its x level and beats the strict-prefix minimum over
    * smaller x.
    *
    * Scale shape: rows collapse to the (x, min y) level DOMAIN first
    * (one combinable rollup — the corpus never sorts); the staircase
    * prefix-min runs on that bounded domain (the ksTest pmod idiom);
    * survivors come back via one (x, y)-keyed semi join. */
  def skyline2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.filter(sf.col(xCol).isNotNull && sf.col(yCol).isNotNull)
      .withColumn("__x4",
        sf.floor(sf.col(xCol).cast("double") * 1e4 + 0.5).cast("long"))
      .withColumn("__y4",
        sf.floor(sf.col(yCol).cast("double") * 1e4 + 0.5).cast("long"))
      .localCheckpoint(true) // the level collapse + the final semi join read it
    val levels = base.groupBy("__x4").agg(sf.min("__y4").as("__ymin"))
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("__x4")), sf.lit(1)))
      .orderBy("__x4").rowsBetween(Window.unboundedPreceding, -1)
    val keep = levels
      .withColumn("__pmin", sf.min("__ymin").over(w)) // strict-prefix min
      .filter(sf.col("__pmin").isNull || sf.col("__ymin") < sf.col("__pmin"))
      .select(sf.col("__x4").as("__kx"), sf.col("__ymin").as("__ky"))
    base.join(sf.broadcast(keep),
        sf.col("__x4") === sf.col("__kx") && sf.col("__y4") === sf.col("__ky"),
        "left_semi")
      .drop("__x4", "__y4")
      .orderBy(xCol, yCol)
  }

  /** Weibull reliability fit by median-rank regression (Benard's
    * approximation F_i = (i−0.3)/(n+0.4); the standard engineering
    * method, e.g. Abernethy's New Weibull Handbook) over a positive
    * duration column — shape k (< 1 infant mortality, ~1 memoryless,
    * > 1 wear-out), scale λ (the 63.2% life), and the B10 life
    * λ(−ln 0.9)^(1/k) every reliability spec quotes: the PARAMETRIC
    * summary rows 286/331's Kaplan–Meier/log-rank ladder deliberately
    * avoids — KM describes THIS sample; Weibull extrapolates, names
    * the failure regime, and prices warranties. Linearized: ln(−ln(1
    * −F)) = k·ln t − k·ln λ, fit by OLS.
    *
    * Determinism: global ranks ride the row 135 range-partitioned
    * dense numbering on the total order (duration, then key — exact
    * tie-break); x = ln t and y = ln(−ln(1−F)) snap 1e-9 BEFORE the
    * exact DECIMAL moment sums (the OLS convention); one pinned
    * slope/intercept/assembly chain 1e-6; non-positive durations are
    * excluded by contract (ln), counted in the output.
    *
    * Scale shape: one rollup to (key, duration), the range-partition
    * numbering pass, one combinable moment reduce — no global sort
    * materializes on one task. */
  def weibullFit(df: DataFrame, keyCol: String, durationCol: String): DataFrame = {
    val base = df.filter(sf.col(keyCol).isNotNull && sf.col(durationCol).isNotNull)
      .select(sf.col(keyCol).as("__k"),
        sf.col(durationCol).cast("double").as("__t"))
      .localCheckpoint(true) // the exclusion count + the fit read it
    val nAll = base.count()
    val pos = base.filter(sf.col("__t") > 0.0)
    val ranked = globalDenseIds(pos, Seq("__t", "__k"), keyName = "__i")
    val snapped = ranked
      .join(sf.broadcast(pos.agg(sf.count(sf.lit(1)).as("__n"))))
      .select(sf.col("__n"),
        sf.floor(sf.log(sf.col("__t")) * 1e9 + 0.5).cast("long").as("__x9"),
        sf.floor(sf.log(-sf.log(
          sf.lit(1.0) - (sf.col("__i").cast("double") - 0.3) /
            (sf.col("__n").cast("double") + 0.4))) * 1e9 + 0.5)
          .cast("long").as("__y9"))
    val m = snapped.groupBy("__n").agg(
      sf.sum(dec(sf.col("__x9"))).as("sx"),
      sf.sum(dec(sf.col("__x9")) * sf.col("__x9")).as("sxx"),
      sf.sum(dec(sf.col("__y9"))).as("sy"),
      sf.sum(dec(sf.col("__x9")) * sf.col("__y9")).as("sxy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val den = d(sf.col("__n")) * d(sf.col("sxx")) - d(sf.col("sx")) * d(sf.col("sx"))
    val k = (d(sf.col("__n")) * d(sf.col("sxy")) - d(sf.col("sx")) * d(sf.col("sy"))) / den
    m.withColumn("__shape", sf.when(sf.col("__n") >= 3 && den =!= 0.0, k))
      .withColumn("__icept",
        (d(sf.col("sy")) - sf.col("__shape") * d(sf.col("sx"))) /
          d(sf.col("__n")) / 1e9)
      .select(sf.col("__n").cast("long").as("n_observations"),
        gf.roundAt(sf.col("__shape"), 6).as("shape_k"),
        sf.when(sf.col("__shape") > 0.0, gf.roundAt(
          sf.exp(-sf.col("__icept") / sf.col("__shape")), 6)).as("scale_lambda"),
        sf.when(sf.col("__shape") > 0.0, gf.roundAt(
          sf.exp(-sf.col("__icept") / sf.col("__shape")) *
            sf.pow(sf.lit(-math.log(0.9)), sf.lit(1.0) / sf.col("__shape")), 6))
          .as("b10_life"))
      .withColumn("n_excluded", sf.lit(nAll) - sf.col("n_observations"))
  }

  /** EOQ / reorder-point / safety-stock policy table per key (Harris
    * 1913 for the economic order quantity; the (Q, R) continuous-
    * review policy every operations text builds on it): from each
    * key's daily-demand history over the table's full calendar
    * horizon (silent days COUNT as zero demand — unlike row 548's
    * variability classes, stock math cannot ignore them), EOQ =
    * √(2·D·K / h) with D the annualized demand, K the fixed cost per
    * order and h the holding cost per unit-year; safety stock =
    * z·σ_d·√L against lead-time demand noise and reorder point =
    * μ_d·L + safety. The POLICY table the row 537 newsvendor's
    * single-period fractile and row 548's routing matrix hand off to:
    * how much to order, when, and what buffer — per key.
    *
    * Determinism: daily sums on the exact 1e-4 grid; horizon an exact
    * day count; zero-day moments by subtraction (n·ΣD² − (ΣD)² over
    * the FULL horizon equals the observed-day DECIMAL moments — zero
    * days add nothing); the two transcendental-bearing constants
    * (2·K·365/h and z·√L) are DRIVER doubles embedded verbatim in the
    * oracle; every assembly expression keeps one shared shape, pinned
    * 1e-6.
    *
    * Scale shape: one (key, day) rollup + one key-domain moment
    * collapse + a ONE-ROW horizon broadcast — no windows, no joins
    * beyond the scalar cross. */
  def eoqPolicy(lines: DataFrame, keyCol: String, dateCol: String,
                qtyCol: String, orderingCost: Double, holdingCostPerYear: Double,
                leadTimeDays: Int, z: Double = 1.6448536269514722): DataFrame = {
    require(orderingCost > 0 && holdingCostPerYear > 0 && leadTimeDays >= 1 &&
      z >= 0, s"eoqPolicy: bad K=$orderingCost h=$holdingCostPerYear " +
      s"L=$leadTimeDays z=$z")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val cEoq = 2.0 * orderingCost * 365.0 / holdingCostPerYear
    val zSqrtL = z * math.sqrt(leadTimeDays.toDouble)
    val daily = lines
      .filter(sf.col(keyCol).isNotNull && sf.col(dateCol).isNotNull &&
        sf.col(qtyCol).isNotNull)
      .select(sf.col(keyCol).as("__k"),
        sf.expr(s"unix_micros(CAST($dateCol AS TIMESTAMP)) div 86400000000")
          .as("__day"),
        sf.floor(sf.col(qtyCol).cast("double") * 1e4 + 0.5).cast("long").as("__q4"))
      .groupBy("__k", "__day")
      .agg(sf.sum(dec(sf.col("__q4"))).as("__d4"))
      .localCheckpoint(true) // horizon scalar + per-key moments read it
    val horizon = daily.agg(
      (sf.max("__day") - sf.min("__day") + 1L).cast("long").as("__n"))
    val m = daily.groupBy("__k").agg(
        sf.sum(dec(sf.col("__d4"))).as("__s"),
        sf.sum(dec(sf.col("__d4")) * sf.col("__d4")).as("__ss"))
      .crossJoin(sf.broadcast(horizon))
    val nd = d(sf.col("__n"))
    val mu = d(sf.col("__s")) / nd / 10000.0
    val eoq = sf.when(mu > 0.0, sf.sqrt(sf.lit(cEoq) * mu))
    val sd = sf.when(sf.col("__n") > 1,
      sf.sqrt((nd * d(sf.col("__ss")) - d(sf.col("__s")) * d(sf.col("__s"))) /
        (nd * (nd - 1.0))) / 10000.0)
    val ss = sf.lit(zSqrtL) * sd
    m.select(sf.col("__k").as(keyCol),
        gf.roundAt(mu, 6).as("mean_daily"),
        gf.roundAt(mu * 365.0, 6).as("annual_demand"),
        gf.roundAt(eoq, 6).as("eoq"),
        gf.roundAt(mu * 365.0 / eoq, 6).as("orders_per_year"),
        gf.roundAt(ss, 6).as("safety_stock"),
        gf.roundAt(mu * sf.lit(leadTimeDays.toDouble) + ss, 6).as("reorder_point"))
      .orderBy(keyCol)
  }

  /** Bullwhip-effect ratio per group (Lee, Padmanabhan & Whang 1997;
    * Chen et al. 2000 for the variance-ratio measure) — how much
    * demand variability AMPLIFIES moving upstream: CV²(weekly
    * quantity by ORDER date — what the supplier sees) over CV²(weekly
    * quantity by SHIP date — what customers actually drew), both on
    * the shared dense week horizon (silent weeks are real zero-demand
    * weeks). Ratio > 1 is the bullwhip; the row 551 (Q, R) policy's
    * σ_d is exactly what this amplification inflates upstream.
    *
    * Determinism: weekly sums on the exact 1e-4 grid over a dense
    * horizon (zero-week moments by subtraction); CV² assemblies share
    * ONE shape — (n·Σq² − (Σq)²)/(n·(n−1)) over (Σq/n)² — and the
    * ratio is one more pinned division, 1e-6.
    *
    * Scale shape: one lineitem⋈orders key join for order-date
    * attribution, two (group, week) rollups, one group-domain moment
    * collapse each, a ONE-ROW horizon broadcast — no windows. */
  def bullwhip(lines: DataFrame, orders: DataFrame, groupCol: String,
               qtyCol: String = "l_quantity"): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    def wk(c: String) = sf.expr(
      s"unix_micros(CAST($c AS TIMESTAMP)) div 604800000000")
    val li = lines
      .filter(sf.col(groupCol).isNotNull && sf.col(qtyCol).isNotNull &&
        sf.col("l_shipdate").isNotNull)
      .join(orders.select(sf.col("o_orderkey").as("__ok"),
        sf.col("o_orderdate")), sf.col("l_orderkey") === sf.col("__ok"))
      .filter(sf.col("o_orderdate").isNotNull)
      .select(sf.col(groupCol).as("__g"),
        wk("o_orderdate").as("__wo"), wk("l_shipdate").as("__ws"),
        sf.floor(sf.col(qtyCol).cast("double") * 1e4 + 0.5).cast("long").as("__q4"))
      .localCheckpoint(true) // both weekly rollups + the horizon read it
    val horizon = li.agg((sf.greatest(sf.max("__wo"), sf.max("__ws")) -
      sf.least(sf.min("__wo"), sf.min("__ws")) + 1L).cast("long").as("__n"))
    def moments(weekCol: String, tag: String) =
      li.groupBy(sf.col("__g"), sf.col(weekCol))
        .agg(sf.sum(dec(sf.col("__q4"))).as("__w4"))
        .groupBy(sf.col("__g").as(s"__g$tag"))
        .agg(sf.sum(dec(sf.col("__w4"))).as(s"__s$tag"),
          sf.sum(dec(sf.col("__w4")) * sf.col("__w4")).as(s"__ss$tag"))
    val m = moments("__wo", "o")
      .join(moments("__ws", "s"), sf.col("__go") === sf.col("__gs"))
      .crossJoin(sf.broadcast(horizon))
    val nd = d(sf.col("__n"))
    def cv2(s: String, ss: String) =
      sf.when(sf.col("__n") > 1 && sf.col(s) > 0,
        ((nd * d(sf.col(ss)) - d(sf.col(s)) * d(sf.col(s))) /
          (nd * (nd - 1.0))) /
          ((d(sf.col(s)) / nd) * (d(sf.col(s)) / nd)))
    val co = cv2("__so", "__sso")
    val cs = cv2("__ss", "__sss")
    m.select(sf.col("__go").as(groupCol), sf.col("__n").as("n_weeks"),
        gf.roundAt(co, 6).as("cv2_orders"),
        gf.roundAt(cs, 6).as("cv2_shipments"),
        gf.roundAt(sf.when(cs > 0.0, co / cs), 6).as("bullwhip_ratio"))
      .orderBy(groupCol)
  }

  /** Order fill-rate / service-level table per group — the share of
    * line QUANTITY shipped within `leadDays` of its order date (the
    * quantity-weighted on-time fill), the late share, and the mean
    * lateness of late lines: the measured service level the row 551
    * policy's z targets and row 537's achieved_service_level
    * approximates at the day grain. Exact integers end to end; three
    * pinned divisions.
    *
    * Scale shape: one lineitem⋈orders key join + one combinable
    * group rollup — no windows, no domain joins. */
  def fillRate(lines: DataFrame, orders: DataFrame, groupCol: String,
               leadDays: Int = 7, qtyCol: String = "l_quantity"): DataFrame = {
    require(leadDays >= 0, s"fillRate: leadDays must be >= 0, got $leadDays")
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    def day(c: String) = sf.expr(
      s"unix_micros(CAST($c AS TIMESTAMP)) div 86400000000")
    val li = lines
      .filter(sf.col(qtyCol).isNotNull && sf.col("l_shipdate").isNotNull)
      .join(orders.filter(sf.col(groupCol).isNotNull &&
          sf.col("o_orderdate").isNotNull)
        .select(sf.col("o_orderkey").as("__ok"), sf.col(groupCol).as("__g"),
          sf.col("o_orderdate")),
        sf.col("l_orderkey") === sf.col("__ok"))
      .select(sf.col("__g"),
        (day("l_shipdate") - day("o_orderdate")).as("__lag"),
        sf.floor(sf.col(qtyCol).cast("double") * 1e4 + 0.5).cast("long").as("__q4"))
    li.groupBy("__g")
      .agg(sf.count(sf.lit(1)).as("n_lines"),
        sf.sum(dec(sf.col("__q4"))).as("__qt"),
        sf.sum(dec(sf.when(sf.col("__lag") <= leadDays, sf.col("__q4"))
          .otherwise(sf.lit(0L)))).as("__qo"),
        sf.sum(sf.when(sf.col("__lag") > leadDays, 1L).otherwise(0L))
          .as("n_late_lines"),
        sf.sum(dec(sf.when(sf.col("__lag") > leadDays,
          sf.col("__lag") - leadDays).otherwise(sf.lit(0L)))).as("__late"))
      .select(sf.col("__g").as(groupCol), sf.col("n_lines"),
        gf.roundAt(d(sf.col("__qo")) / d(sf.col("__qt")), 6).as("fill_rate"),
        sf.col("n_late_lines").cast("long").as("n_late_lines"),
        gf.roundAt(d(sf.col("n_late_lines")) / d(sf.col("n_lines")), 6)
          .as("late_line_share"),
        sf.when(sf.col("n_late_lines") > 0, gf.roundAt(
          d(sf.col("__late")) / d(sf.col("n_late_lines")), 6))
          .as("mean_late_days"))
      .orderBy(groupCol)
  }

  /** ABC-XYZ inventory matrix — row 348's revenue-Pareto classes
    * crossed with demand-VARIABILITY classes (XYZ by the coefficient
    * of variation of daily demand: X ≤ 0.5 steady, Y ≤ 1.0, Z lumpy;
    * the textbook cutoffs): the 9-cell planning grid that decides
    * forecast method and stock policy per cell (AX: automate +
    * newsvendor (row 537); CZ: make-to-order; BZ: row 541's Croston
    * regime) — the map that routes every part to the right operator
    * in this engine. Cells report part counts and revenue share.
    *
    * Determinism: ABC is row 348 verbatim; CV per key from exact
    * 1e-4 daily sums — sample CV √((n·Σd² − (Σd)²)/(n·(n−1)))/mean,
    * moments in DECIMAL, one pinned sqrt ratio; single-day keys CV
    * 0 -> X; cell rollup exact, shares pinned 1e-6.
    *
    * Scale shape: the row 348 pass + one (key, day) rollup + one
    * key-domain moment collapse + a broadcast class join. */
  def abcXyzMatrix(lines: DataFrame, keyCol: String, dateCol: String,
                   qtyCol: String, amountCol: String): DataFrame = {
    val abc = abcClassification(lines, keyCol, amountCol)
      .select(sf.col(keyCol).as("__ak"), sf.col("abc_class"),
        sf.col("amount").as("__amt"))
    val daily = lines
      .filter(sf.col(keyCol).isNotNull && sf.col(dateCol).isNotNull &&
        sf.col(qtyCol).isNotNull)
      .groupBy(sf.col(keyCol).as("__k"),
        sf.expr(s"unix_micros(CAST($dateCol AS TIMESTAMP)) div 86400000000")
          .as("__day"))
      .agg(sf.sum(sf.floor(sf.col(qtyCol).cast("double") * 1e4 + 0.5)
        .cast("long")).as("__d4"))
    val cv = daily.groupBy("__k").agg(
        sf.count(sf.lit(1)).as("__nd"),
        sf.sum(dec(sf.col("__d4"))).as("__s"),
        sf.sum(dec(sf.col("__d4")) * sf.col("__d4")).as("__ss"))
      .select(sf.col("__k"),
        sf.when(sf.col("__nd") >= 2 && sf.col("__s") > 0, gf.roundAt(
          sf.sqrt((sf.col("__nd").cast("double") * sf.col("__ss").cast("double") -
            sf.col("__s").cast("double") * sf.col("__s").cast("double")) /
            (sf.col("__nd").cast("double") *
              (sf.col("__nd").cast("double") - 1.0))) /
            (sf.col("__s").cast("double") / sf.col("__nd").cast("double")), 6))
          .otherwise(sf.lit(0.0)).as("__cv"))
      .withColumn("xyz_class",
        sf.when(sf.col("__cv") <= 0.5, "X")
          .when(sf.col("__cv") <= 1.0, "Y").otherwise("Z"))
    val cells = abc.join(cv, sf.col("__ak") === sf.col("__k"))
      .groupBy("abc_class", "xyz_class")
      .agg(sf.count(sf.lit(1)).as("n_keys"),
        sf.sum(sf.floor(sf.col("__amt") * 100 + 0.5).cast("long")).as("__rev2"))
      .localCheckpoint(true) // total + output read it
    val tot = cells.agg(sf.sum(dec(sf.col("__rev2"))).as("__tot"))
    cells.crossJoin(sf.broadcast(tot))
      .select(sf.col("abc_class"), sf.col("xyz_class"), sf.col("n_keys"),
        gf.roundAt(sf.col("__rev2").cast("double") /
          sf.col("__tot").cast("double"), 6).as("revenue_share"))
      .orderBy("abc_class", "xyz_class")
  }
}
