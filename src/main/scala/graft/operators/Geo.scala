package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Geographic primitives. Latitude/longitude are the reference's only
  * numeric payload (the one `parseFloat` in geonames.js:143–146 builds
  * the GeoJSON point) — this adds the distance algebra over them:
  * great-circle distance and radius predicates, the "places within R km
  * of X" query the GeoNames ecosystem exists to serve.
  *
  * Composed entirely from codegen'd builtin expressions (radians / sin
  * / cos / asin / sqrt) — no UDF, so the predicate stays inside
  * WholeStageCodegen and survives column pruning; squares are written
  * as explicit products (not `pow(x, 2)`) so both this engine and a SQL
  * oracle evaluate the identical IEEE expression tree.
  */
object Geo {

  /** Haversine great-circle distance in kilometers (mean Earth radius
    * 6371 km): 2R·asin(√(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))).
    */
  def haversineKm(lat1: Column, lon1: Column,
                  lat2: Column, lon2: Column): Column = {
    val sdLat = sin(radians(lat2 - lat1) / 2)
    val sdLon = sin(radians(lon2 - lon1) / 2)
    val a = sdLat * sdLat +
      cos(radians(lat1)) * cos(radians(lat2)) * sdLon * sdLon
    lit(12742.0) * asin(sqrt(a))
  }

  /** All point pairs within `radiusKm`, via a grid-cell equi-join — the
    * spatial sibling of the LSH-band / interval-bucket pattern. A naive
    * "all pairs within R" is a cartesian O(n²) distance evaluation; at
    * scale the only viable plan quantizes the sphere into
    * `cellDeg`-degree cells, stamps each point onto its 3×3 cell
    * neighborhood (with LONGITUDE WRAPAROUND so antimeridian pairs are
    * not lost), equi-joins stamped×home on the cell id, and verifies the
    * exact haversine on candidates only. A hot cell is bounded by local
    * point density, never by n.
    *
    * Each qualifying pair is emitted exactly once without a distinct:
    * the stamped side must carry the SMALLER id (`id_a < id_b`), and the
    * home cell of the larger-id point is unique.
    *
    * Completeness holds only while adjacent cells cover `radiusKm` in
    * both axes, which shrinks with latitude for longitude — the
    * preconditions are `require()`d from the exact haversine bounds
    * (Δφ ≤ r/R; sin(Δλ/2) ≤ sin(r/2R)/cos(φmax)), and the caller must
    * pre-filter |lat| ≤ `maxAbsLat` (polar caps need cap cells, not a
    * lon/lat grid).
    *
    * Output: `id_a`, `id_b`, `dist_km` (rounded to 4 dp BEFORE the
    * radius compare, so an oracle evaluating the identical expression
    * tree cannot disagree on threshold membership by one ulp). The
    * radius boundary is therefore evaluated on the ROUNDED distance —
    * a true distance of radius + 0.00004 km is IN. This "rounded-radius"
    * semantics is deliberate: it is the only boundary definition two
    * engines computing in IEEE double can agree on bit-for-bit.
    *
    * The full pair set is quadratic in point density (measured:
    * 65.7× pairs on 10× points), so the candidate mass — the grid
    * join's row count, Σ over matched cells of n_stamped·n_home,
    * computed from the per-cell occupancy aggregate (|cells| rows,
    * never n) — is require()-capped at `maxCandidateMass`, failing
    * loudly with the output-BOUNDED twin's name ([[knnWithinRadius]] /
    * q_geo_knn_radius) instead of silently melting a cluster.
    */
  def neighborPairs(points: DataFrame, idCol: Column,
                    latCol: Column, lonCol: Column,
                    radiusKm: Double, cellDeg: Double,
                    maxAbsLat: Double,
                    maxCandidateMass: Long = 1000000000L): DataFrame = {
    val nx = requireGridCovers(radiusKm, cellDeg, maxAbsLat)
    // NOTE: calling neighborPairs triggers Spark jobs EAGERLY — the
    // candidate-mass guard below runs an occupancy aggregate before the
    // returned plan is built. `base` is cut once so the `points` lineage
    // is evaluated exactly once, not three times (mass estimate, stamped
    // side, home side) — material when upstream is an expensive computed
    // input rather than a parquet scan.
    val base = Lineage.cut(points.select(idCol.as("_id"), latCol.as("_lat"),
      lonCol.as("_lon"),
      floor((lonCol + 180.0) / cellDeg).cast("long").as("_cx"),
      floor((latCol + 90.0) / cellDeg).cast("long").as("_cy")),
      "Geo.neighborPairs.base")
    requireBoundedMass(base, nx, maxCandidateMass)
    val stamped = base.select(col("_id").as("id_a"), col("_lat").as("_lata"),
        col("_lon").as("_lona"),
        explode(array((for (dx <- -1 to 1; dy <- -1 to 1) yield
          struct(pmod(col("_cx") + dx, lit(nx)).as("x"),
            (col("_cy") + dy).as("y"))): _*)).as("_cell"))
      .select(col("id_a"), col("_lata"), col("_lona"),
        col("_cell.x").as("_cxa"), col("_cell.y").as("_cya"))
    val home = base.select(col("_id").as("id_b"), col("_lat").as("_latb"),
      col("_lon").as("_lonb"), col("_cx"), col("_cy"))
    stamped.join(home,
        col("_cxa") === col("_cx") && col("_cya") === col("_cy") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(haversineKm(col("_lata"), col("_lona"),
          col("_latb"), col("_lonb")), 4).as("dist_km"))
      .where(col("dist_km") <= radiusKm)
  }

  /** Per-point k nearest neighbors within `radiusKm` — the
    * output-BOUNDED companion to [[neighborPairs]]: radius-pair density
    * is quadratic in point density (the measured q_geo_pairs scale
    * note: 65.7× pairs on 10× points), so a 100 TB deployment wants the
    * O(n·k) answer, not the full pair set. Same grid-cell plan: the
    * NEIGHBOR side stamps its 3×3 cell neighborhood (lon wraparound),
    * the QUERY side keeps its unique home cell — each qualifying
    * (query, neighbor) pair matches exactly once (the 9 stamped cells
    * are distinct, the home cell unique) — exact haversine verifies
    * candidates, and a per-query row_number window keeps the k nearest
    * (ties broken by neighbor id). The `rn ≤ k` filter directly above
    * the window lets Spark's WindowGroupLimit rank-limit pushdown prune
    * each partition to k rows BEFORE the full per-cell sort
    * materializes; partitions are bounded by local density, never n.
    *
    * Like [[neighborPairs]], the radius boundary is evaluated on the
    * 4-dp ROUNDED distance (rounded-radius semantics, chosen for
    * cross-engine hash stability).
    */
  def knnWithinRadius(points: DataFrame, idCol: Column,
                      latCol: Column, lonCol: Column,
                      radiusKm: Double, cellDeg: Double,
                      maxAbsLat: Double, k: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val nx = requireGridCovers(radiusKm, cellDeg, maxAbsLat)
    val base = points.select(idCol.as("_id"), latCol.as("_lat"),
      lonCol.as("_lon"),
      floor((lonCol + 180.0) / cellDeg).cast("long").as("_cx"),
      floor((latCol + 90.0) / cellDeg).cast("long").as("_cy"))
    val stamped = base.select(col("_id").as("nbr"), col("_lat").as("_latn"),
        col("_lon").as("_lonn"),
        explode(array((for (dx <- -1 to 1; dy <- -1 to 1) yield
          struct(pmod(col("_cx") + dx, lit(nx)).as("x"),
            (col("_cy") + dy).as("y"))): _*)).as("_cell"))
      .select(col("nbr"), col("_latn"), col("_lonn"),
        col("_cell.x").as("_cxn"), col("_cell.y").as("_cyn"))
    val home = base.select(col("_id").as("id"), col("_lat").as("_latq"),
      col("_lon").as("_lonq"), col("_cx"), col("_cy"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("dist_km"), col("nbr"))
    stamped.join(home,
        col("_cxn") === col("_cx") && col("_cyn") === col("_cy") &&
          col("nbr") =!= col("id"))
      .select(col("id"), col("nbr"),
        round(haversineKm(col("_latq"), col("_lonq"),
          col("_latn"), col("_lonn")), 4).as("dist_km"))
      .where(col("dist_km") <= radiusKm)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
  }

  /** Shared grid-coverage preconditions (exact haversine bounds:
    * Δφ ≤ r/R; sin(Δλ/2) ≤ sin(r/2R)/cos(φmax)); returns the lon cell
    * count nx for the wraparound pmod. nx must be ≥ 3: with fewer lon
    * cells the pmod wraparound folds the 3×3 neighbor stamp onto
    * duplicate cells, so a candidate pair would match MORE than once
    * (duplicate pair rows; inflated knn ranks).
    */
  private def requireGridCovers(radiusKm: Double, cellDeg: Double,
                                maxAbsLat: Double): Long = {
    val R = 6371.0
    val nx = math.round(360.0 / cellDeg)
    require(nx * cellDeg == 360.0,
      s"cellDeg $cellDeg must divide 360 exactly (lon wraparound)")
    require(nx >= 3,
      s"cellDeg $cellDeg gives only $nx lon cells — the wraparound pmod " +
        "would fold the 3x3 stamp onto duplicate cells (duplicate pairs); " +
        "use cellDeg <= 120")
    val maxDLat = math.toDegrees(radiusKm / R)
    require(cellDeg >= maxDLat,
      s"cellDeg $cellDeg < max lat span $maxDLat deg for radius $radiusKm")
    val sinHalf = math.sin(radiusKm / (2 * R)) /
      math.cos(math.toRadians(maxAbsLat))
    require(sinHalf <= 1.0 && cellDeg >= math.toDegrees(2 * math.asin(sinHalf)),
      s"cellDeg $cellDeg too small for radius $radiusKm at |lat|<=$maxAbsLat" +
        " — adjacent cells would not cover the radius; widen cellDeg or" +
        " lower maxAbsLat")
    nx
  }

  /** Loud candidate-mass cap for the quadratic-output pair path: the
    * grid join's candidate count is Σ over stamped×home cell matches of
    * n_a·n_b, computed from the per-cell occupancy AGGREGATE (the
    * cells-sized self-join below never touches point rows twice), so
    * the estimate costs one scan + one tiny join regardless of density.
    */
  private def requireBoundedMass(base: DataFrame, nx: Long,
                                 maxCandidateMass: Long): Unit = {
    val occ = base.groupBy(col("_cx"), col("_cy"))
      .agg(count(lit(1)).as("_n"))
    val stamped = occ.select(col("_n").as("_na"),
        explode(array((for (dx <- -1 to 1; dy <- -1 to 1) yield
          struct(pmod(col("_cx") + dx, lit(nx)).as("x"),
            (col("_cy") + dy).as("y"))): _*)).as("_cell"))
      .select(col("_na"), col("_cell.x").as("_cx"), col("_cell.y").as("_cy"))
    val mass = stamped.join(occ, Seq("_cx", "_cy"))
      .agg(coalesce(sum(col("_na") * col("_n")), lit(0L)))
      .head().getLong(0)
    require(mass <= maxCandidateMass,
      s"neighborPairs candidate mass $mass exceeds maxCandidateMass=" +
        s"$maxCandidateMass — the full pair set is quadratic in point " +
        "density; use the output-bounded twin knnWithinRadius " +
        "(q_geo_knn_radius) or raise the knob deliberately")
  }
}
