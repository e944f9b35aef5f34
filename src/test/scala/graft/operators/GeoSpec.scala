package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GeoSpec extends SparkSpec {
  import spark.implicits._

  private def dist(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    Seq((lat1, lon1, lat2, lon2)).toDF("a", "b", "c", "d")
      .select(Geo.haversineKm(col("a"), col("b"), col("c"), col("d")).as("km"))
      .as[Double].collect()(0)

  test("haversine matches known city distances within mean-radius error") {
    // NYC (40.7128, -74.0060) to London (51.5074, -0.1278): ~5570 km
    dist(40.7128, -74.0060, 51.5074, -0.1278) shouldBe 5570.0 +- 10.0
    // Paris to Berlin: ~878 km
    dist(48.8566, 2.3522, 52.52, 13.405) shouldBe 878.0 +- 5.0
  }

  test("haversine degenerate and symmetry properties") {
    dist(10.0, 20.0, 10.0, 20.0) shouldBe 0.0
    val ab = dist(10.0, 20.0, -30.0, 140.0)
    val ba = dist(-30.0, 140.0, 10.0, 20.0)
    ab shouldBe ba +- 1e-9
    // antipodal points: half the mean circumference ~ 20015 km
    dist(0.0, 0.0, 0.0, 180.0) shouldBe 20015.0 +- 5.0
  }

  private def gridPairs(pts: Seq[(Long, Double, Double)], r: Double,
                        cell: Double): Set[(Long, Long)] =
    Geo.neighborPairs(pts.toDF("id", "lat", "lon"),
        col("id"), col("lat"), col("lon"), r, cell, maxAbsLat = 60.0)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet

  test("neighborPairs matches brute force on random points (grid completeness)") {
    val rnd = new scala.util.Random(11)
    val pts = Seq.tabulate(300) { i =>
      (i.toLong, rnd.nextDouble() * 120 - 60, rnd.nextDouble() * 360 - 180)
    }
    // oracle: every pair's haversine in one query, rounded like neighborPairs
    val p = pts.toDF("id", "lat", "lon")
    val brute = p.as("a").crossJoin(p.as("b")).where(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        Geo.haversineKm(col("a.lat"), col("a.lon"), col("b.lat"), col("b.lon")))
      .as[(Long, Long, Double)].collect()
      .collect { case (ia, ib, km)
        if BigDecimal(km).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble <= 500.0 =>
        (ia, ib)
      }.toSet
    brute should not be empty // the fixture must actually exercise pairs
    gridPairs(pts, r = 500.0, cell = 10.0) shouldBe brute
  }

  test("neighborPairs finds antimeridian pairs (lon wraparound)") {
    // 0.4 deg of longitude apart across the ±180 seam, ~44 km at equator
    val pts = Seq((1L, 0.0, 179.8), (2L, 0.0, -179.8), (3L, 0.0, 0.0))
    gridPairs(pts, r = 100.0, cell = 4.0) shouldBe Set((1L, 2L))
  }

  test("neighborPairs refuses a cell grid too coarse-grained to be complete") {
    // 500 km needs ~9 deg of lon at |lat|=60; a 4-deg cell cannot cover it
    an[IllegalArgumentException] should be thrownBy
      gridPairs(Seq((1L, 0.0, 0.0)), r = 500.0, cell = 4.0)
    // and cellDeg must divide 360 for the wraparound modulus
    an[IllegalArgumentException] should be thrownBy
      gridPairs(Seq((1L, 0.0, 0.0)), r = 100.0, cell = 7.0)
  }

  test("grid refuses cellDeg > 120 (pmod would fold the 3x3 stamp onto dup cells)") {
    // 180-deg cells give nx=2: cells x-1 and x+1 coincide mod 2, so every
    // candidate pair would match twice — refused up front
    val e = intercept[IllegalArgumentException] {
      gridPairs(Seq((1L, 0.0, 0.0)), r = 100.0, cell = 180.0)
    }
    e.getMessage should include("lon cells")
  }

  test("neighborPairs candidate-mass cap fails loudly, naming the bounded twin") {
    val pts = Seq.tabulate(30)(i => (i.toLong, 0.1 * i, 0.1 * i))
    val e = intercept[IllegalArgumentException] {
      Geo.neighborPairs(pts.toDF("id", "lat", "lon"),
        col("id"), col("lat"), col("lon"), radiusKm = 200.0, cellDeg = 4.0,
        maxAbsLat = 60.0, maxCandidateMass = 10L)
    }
    e.getMessage should include("candidate mass")
    e.getMessage should include("q_geo_knn_radius")
    // the same density passes under the default cap and still answers
    Geo.neighborPairs(pts.toDF("id", "lat", "lon"),
      col("id"), col("lat"), col("lon"), radiusKm = 200.0, cellDeg = 4.0,
      maxAbsLat = 60.0).count() should be > 0L
  }

  test("knnWithinRadius returns per-point k nearest and no self-matches") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 0.0, 0.5), (3L, 0.0, 1.0), (4L, 0.0, 8.0))
    val got = Geo.knnWithinRadius(pts.toDF("id", "lat", "lon"),
        col("id"), col("lat"), col("lon"), radiusKm = 200.0, cellDeg = 4.0,
        maxAbsLat = 60.0, k = 1)
      .select(col("id"), col("nbr")).as[(Long, Long)].collect().toSet
    got shouldBe Set((1L, 2L), (2L, 1L), (3L, 2L)) // 4 is isolated
  }
}
