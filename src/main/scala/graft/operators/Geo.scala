package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => sf}
import graft.{functions => gf}
import graft.functions.dec

/** Geospatial primitives over plain lat/lon columns — the minimum a
  * curation/analytics engine needs once a dimension carries
  * coordinates (the `StarSchema.dimAirport` latitude/longitude): a
  * great-circle distance expression and a grid-bucketed radius
  * self-join that never goes quadratic.
  *
  * Determinism contract: the RADIUS JOIN works in PLANAR DEGREE space
  * with pure IEEE arithmetic (+, −, ×, sqrt are exactly-rounded by
  * IEEE 754, so Spark and any SQL oracle agree bit-for-bit), while
  * [[haversineKm]] — which needs sin/cos/asin, transcendentals with no
  * cross-engine bit guarantee — is the library expression for REAL
  * distances, spec-pinned against textbook values instead of
  * hash-gated. Planar degrees are the standard blocking metric for
  * "nearby" filters at city/region scale; callers needing metric
  * radii post-filter the candidate pairs with [[haversineKm]].
  */
object Geo {

  /** Haversine great-circle distance in kilometers between two
    * (degree) coordinate pairs — mean-Earth-radius 6371.0088 km:
    * 2R·asin(√(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))). Pure
    * `sf.functions` trig inside whole-stage codegen; transcendental,
    * so library-surface only (spec-pinned, not oracle-hashed). */
  def haversineKm(lat1: org.apache.spark.sql.Column, lon1: org.apache.spark.sql.Column,
                  lat2: org.apache.spark.sql.Column, lon2: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dLat = sf.radians(lat2 - lat1) / 2
    val dLon = sf.radians(lon2 - lon1) / 2
    val a = sf.sin(dLat) * sf.sin(dLat) +
      sf.cos(sf.radians(lat1)) * sf.cos(sf.radians(lat2)) *
        sf.sin(dLon) * sf.sin(dLon)
    sf.lit(2 * 6371.0088) * sf.asin(sf.sqrt(a))
  }

  /** All point pairs within `radiusDeg` PLANAR degrees of each other
    * (Euclidean over (lat, lon)), via grid-cell bucketing — the
    * scale-safe twin of the quadratic self-join: each point lands in
    * one ⌊coord/radius⌋ grid cell; the LEFT side expands to its 3×3
    * cell neighborhood, the RIGHT side stays home, and a pair at
    * distance ≤ r ALWAYS shares one (expanded, home) cell pair (each
    * axis differs by ≤ r ⇒ cell index differs by ≤ 1) — so the join is
    * cell-keyed equi, candidate volume is bounded by local density,
    * and each unordered pair is emitted exactly once (expanded id <
    * home id; the home cell is unique per point).
    *
    * Determinism: cell ids are ⌊x/r⌋ of IEEE divides; the distance
    * test dlat² + dlon² ≤ r² and the emitted distance √(dlat²+dlon²)
    * are exactly-rounded IEEE arithmetic — bit-identical in any
    * IEEE-754 SQL engine, no transcendentals anywhere.
    *
    * Scale shape: one map-only cell assignment, a 9× bounded fan-out
    * on one side, one cell-keyed equi join (AQE broadcasts a small
    * side), no windows; the quadratic term lives only WITHIN a cell
    * neighborhood — bounded by density × r², the standard spatial
    * blocking guarantee. NULL coordinates drop (no cell). */
  def withinRadiusPairs(df: DataFrame, idCol: String, latCol: String,
                        lonCol: String, radiusDeg: Double): DataFrame = {
    require(radiusDeg > 0, s"radiusDeg must be > 0, got $radiusDeg")
    val pts = df.select(sf.col(idCol).as("__id"),
        sf.col(latCol).cast("double").as("__lat"),
        sf.col(lonCol).cast("double").as("__lon"))
      .filter(sf.col("__lat").isNotNull && sf.col("__lon").isNotNull)
    val r = sf.lit(radiusDeg)
    val home = pts.select(sf.col("__id").as("id_b"),
      sf.col("__lat").as("lat_b"), sf.col("__lon").as("lon_b"),
      sf.floor(sf.col("__lat") / r).as("cy"),
      sf.floor(sf.col("__lon") / r).as("cx"))
    val expanded = pts.select(sf.col("__id").as("id_a"),
        sf.col("__lat").as("lat_a"), sf.col("__lon").as("lon_a"),
        sf.explode(sf.array((-1 to 1).flatMap(dy => (-1 to 1).map(dx =>
          sf.struct((sf.floor(sf.col("__lat") / r) + dy).as("cy"),
            (sf.floor(sf.col("__lon") / r) + dx).as("cx")))): _*)).as("c"))
      .select(sf.col("id_a"), sf.col("lat_a"), sf.col("lon_a"),
        sf.col("c.cy").as("cy"), sf.col("c.cx").as("cx"))
    val dLat = sf.col("lat_a") - sf.col("lat_b")
    val dLon = sf.col("lon_a") - sf.col("lon_b")
    expanded.join(home, Seq("cy", "cx"))
      .filter(sf.col("id_a") < sf.col("id_b"))
      .filter(dLat * dLat + dLon * dLon <= r * r)
      .select(sf.col("id_a"), sf.col("id_b"),
        gf.roundAt(sf.sqrt(dLat * dLat + dLon * dLon), 6).as("dist_deg"))
      .orderBy("id_a", "id_b")
  }

  /** Moran's I spatial autocorrelation (Moran 1950) of a numeric
    * attribute over the binary within-`radiusDeg` neighbor graph from
    * [[withinRadiusPairs]] — the ONE-NUMBER "is this attribute
    * spatially clustered" answer (I → +1 neighbors alike, ≈ E[I] =
    * −1/(n−1) random, < 0 checkerboard) that a per-pair distance list
    * can't give: the spatial screening statistic before any kriging/
    * hotspot model, and the geo twin of row 306's degree
    * assortativity (same Pearson-over-edges shape, spatial weights).
    *
    * Determinism: with symmetric binary weights, I = n·Σ_pairs(n·vᵢ −
    * S)(n·vⱼ − S) / (P·Σ(n·v − S)²) — the n²-scale and the 2s from
    * mirroring both cancel exactly, so every sum is DECIMAL(38,0)
    * over exact 1e-4-grid integers and I is ONE pinned division
    * rounded 1e-6. No neighbor pairs (P = 0) or constant attribute
    * (B = 0) → NULL I; isolated points still count in n and the
    * variance, the standard convention.
    *
    * Scale shape: the [[withinRadiusPairs]] grid-bucketed join (never
    * quadratic) + two broadcast-shaped value attaches + one-row
    * finishes. */
  def moransI(df: DataFrame, idCol: String, latCol: String, lonCol: String,
              valueCol: String, radiusDeg: Double): DataFrame = {
    val pts = df
      .select(sf.col(idCol).as("__id"),
        sf.col(latCol).cast("double").as("__lat"),
        sf.col(lonCol).cast("double").as("__lon"),
        sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
          .as("__v"))
      .filter(sf.col("__lat").isNotNull && sf.col("__lon").isNotNull &&
        sf.col("__v").isNotNull)
      .localCheckpoint(true) // stats + pair attaches read it
    val stats = pts.agg(sf.count(sf.lit(1)).as("n"),
      sf.sum("__v").cast("long").as("s"))
    val b = pts.crossJoin(sf.broadcast(stats))
      .select((dec(sf.col("n")) * dec(sf.col("__v")) - dec(sf.col("s"))).as("__z"))
      .agg(sf.sum(sf.col("__z") * sf.col("__z")).as("bb"))
    val pairs = withinRadiusPairs(pts, "__id", "__lat", "__lon", radiusDeg)
      .join(pts.select(sf.col("__id").as("id_a"), sf.col("__v").as("__va")), "id_a")
      .join(pts.select(sf.col("__id").as("id_b"), sf.col("__v").as("__vb")), "id_b")
      .crossJoin(sf.broadcast(stats))
      .select(((dec(sf.col("n")) * dec(sf.col("__va")) - dec(sf.col("s"))) *
        (dec(sf.col("n")) * dec(sf.col("__vb")) - dec(sf.col("s")))).as("__u"))
      .agg(sf.count(sf.lit(1)).as("n_neighbor_pairs"), sf.sum("__u").as("__u"))
    stats.crossJoin(sf.broadcast(b)).crossJoin(sf.broadcast(pairs))
      .select(sf.col("n").as("n_points"), sf.col("n_neighbor_pairs"),
        sf.when(sf.col("n_neighbor_pairs") > 0 && sf.col("bb") > 0, gf.roundAt(
          (dec(sf.col("n")) * sf.col("__u")).cast("double") /
            (dec(sf.col("n_neighbor_pairs")) * sf.col("bb")).cast("double"), 6))
          .as("morans_i"),
        sf.when(sf.col("n") > 1, gf.roundAt(
          sf.lit(-1.0) / (sf.col("n") - 1).cast("double"), 6)).as("expected_i"))
  }
}
