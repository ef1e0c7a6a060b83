package graft

import org.apache.spark.sql.{DataFrame, functions => sf}

/** sf1.0 scale-checkpoint data generator — builds a 10x derivative of
  * the driver's sf0.1 tables under `target/sf1.0` so the heavy-tail
  * queries can be measured one decade past the bench scale (the
  * VERDICT r12 item 2 empirical scaling test). The driver's testdata
  * is read-only and stops at sf0.1; this derivative is repo-local,
  * deterministic, and NEVER used for correctness gating — only for
  * per-query scaling-factor measurement in SURVEY section 6.
  *
  * Construction: ten key-shifted copies of every sf0.1 table (copy 0
  * is the identity), FK-consistent — each copy shifts every key
  * family by `copy * stride` with disjoint strides (orders 1e9,
  * customers/parts/docs 1e7-1e8, suppliers 1e6, users 1e9, events
  * 1e12), so joins stay intact and the join/graph structure becomes
  * ten disjoint replicas: cost must scale ~linearly in rows for every
  * linear-plan operator, and any super-linear growth is a plan
  * defect, not a data artifact. `nation`/`region` stay fixed
  * (geography does not scale in TPC-H either).
  *
  * Text and embeddings are PERTURBED per copy so the near-dup mass
  * stays proportional instead of exploding quadratically: exact
  * copies would either collapse in the exact-dup prefilter (testing
  * nothing) or mint 45 true near-dup pairs per document (a 4.5x
  * super-linear pair volume by construction). Copy k>0 suffixes a
  * hash-selected ~40% of words with "~k" (word-set Jaccard vs the
  * original ~0.43 — far below every near-dup threshold, so each
  * copy keeps the corpus's internal near-dup structure and adds no
  * cross-copy pairs), and embeddings are dimension-rotated by k
  * (norms and intra-copy geometry exact, cross-copy cosine ~random).
  */
object ScaleGen {
  val Copies = 10

  private def shifted(df: DataFrame, copy: Int, shifts: (String, Long)*): DataFrame =
    shifts.foldLeft(df) { case (d, (c, stride)) =>
      d.withColumn(c, sf.col(c) + sf.lit(copy * stride))
    }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/sf1.0"
    val spark = Session.local(Session.envCpus(32))
    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def replicate(t: String)(oneCopy: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(t)
      val all = (0 until Copies).map(k => oneCopy(base, k)).reduce(_ union _)
      write(all, t)
      println(s"[scalegen] $t -> ${Copies}x")
    }

    replicate("lineitem")((d, k) => shifted(d, k,
      "l_orderkey" -> 1000000000L, "l_partkey" -> 10000000L,
      "l_suppkey" -> 1000000L))
    replicate("orders")((d, k) => shifted(d, k,
      "o_orderkey" -> 1000000000L, "o_custkey" -> 10000000L))
    replicate("customer")((d, k) => shifted(d, k, "c_custkey" -> 10000000L))
    replicate("supplier")((d, k) => shifted(d, k, "s_suppkey" -> 1000000L))
    replicate("part")((d, k) => shifted(d, k, "p_partkey" -> 10000000L))
    replicate("events")((d, k) => shifted(d, k,
      "event_id" -> 1000000000000L, "user_id" -> 1000000000L))
    replicate("documents") { (d, k) =>
      val s = shifted(d, k, "doc_id" -> 100000000L)
      if (k == 0) s
      else s.withColumn("text", sf.array_join(
        sf.transform(sf.split(sf.col("text"), " "),
          w => sf.when(sf.pmod(sf.hash(w, sf.lit(k)), sf.lit(10)) < 4,
            sf.concat(w, sf.lit("~" + k))).otherwise(w)), " "))
        .withColumn("n_chars", sf.length(sf.col("text")).cast("long"))
    }
    replicate("embeddings") { (d, k) =>
      val s = shifted(d, k, "vec_id" -> 100000000L)
      if (k == 0) s
      else s.withColumn("embedding",
        sf.transform(sf.sequence(sf.lit(0), sf.size(sf.col("embedding")) - 1),
          i => sf.element_at(sf.col("embedding"),
            sf.pmod(i + sf.lit(k), sf.size(sf.col("embedding"))) + 1)))
    }
    write(read("nation"), "nation")
    write(read("region"), "region")
    println(s"[scalegen] done -> $outDir")
    spark.stop()
  }
}
