package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Slippy._

/** Ports of /root/reference/slippy/maths_test.go and tile_test.go
  * (FromBounds golden .coords fixtures).
  */
class SlippySpec extends AnyFunSuite {

  test("lat2Num reference cases (maths_test.go:10-70)") {
    val cases = Seq(
      (11, 38.889814, 783),
      (0, 38.889814, 0),
      (0, -86.0, 0),
      (0, -Lat4326Max, 0),
      (1, -85.0511, 1),
      (28, 41.850033, 99798110), // orb/maptile cross-check
      (18, 35.6590699, 103246)   // OSM slippy-tile example
    )
    for ((z, lat, y) <- cases)
      assert(lat2Num(z, lat) == y, s"z=$z lat=$lat")
  }

  test("lon2Num reference cases (maths_test.go:74-140)") {
    val cases = Seq(
      (11, -77.035915, 585),
      (0, 38.889814, 0),
      (0, Lon4326Max, 0),
      (1, -Lon4326Max, 0),
      (18, 139.7006793, 232798)
    )
    for ((z, lon, x) <- cases)
      assert(lon2Num(z, lon) == x, s"z=$z lon=$lon")
    // whole-degree sweep at z0
    for (lon <- -180 to 179)
      assert(lon2Num(0, lon.toDouble) == 0, s"z0 lon=$lon")
    // lon extremes at every zoom
    for (z <- 0 to 20) {
      assert(lon2Num(z, -Lon4326Max) == 0)
      assert(lon2Num(z, Lon4326Max) == (1 << z) - 1)
    }
  }

  test("tile → lon/lat → tile round trip for all tiles z0..z6 (maths_test.go Test_RoundTrip)") {
    for (z <- 0 to 6; x <- 0 until (1 << z); y <- 0 until (1 << z)) {
      val lon = x2deg(z, x)
      val lat = y2deg(z, y)
      assert(lon2Num(z, lon) == x, s"x roundtrip z=$z x=$x")
      assert(lat2Num(z, lat) == y, s"y roundtrip z=$z y=$y")
    }
  }

  test("cell id packing preserves (z,x,y) order and round-trips") {
    val cells = Seq((0, 0L, 0L), (15, 12345L, 54321L), (22, (1L << 22) - 1, (1L << 22) - 1))
    for ((z, x, y) <- cells) {
      val c = pack(z, x, y)
      assert(unpackZ(c) == z && unpackX(c) == x && unpackY(c) == y)
    }
    // ordering: z dominates, then x, then y (reference tile.go:43-51 Less)
    assert(pack(9, 500, 500) < pack(10, 0, 0))
    assert(pack(10, 1, 900) < pack(10, 2, 0))
    assert(pack(10, 1, 5) < pack(10, 1, 6))
  }

  test("familyAt ancestors and descendants (tile.go:76-99)") {
    val t = pack(2, 1, 1)
    assert(familyAt(t, 0) == Vector(pack(0, 0, 0)))
    assert(familyAt(t, 2) == Vector(t))
    val kids = familyAt(t, 3)
    assert(kids.toSet == Set(pack(3, 2, 2), pack(3, 2, 3), pack(3, 3, 2), pack(3, 3, 3)))
  }

  private def loadCoords(name: String): Set[(Int, Long, Long)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/slippy/$name"))
    try {
      // the reference loader (tile_test.go LoadCoords) just scans digit runs,
      // skipping '#' comments; files mix "z/x/y" and "{Z: z, X: x, Y: y}"
      val nums = src.getLines()
        .map(_.takeWhile(_ != '#'))
        .flatMap("""\d+""".r.findAllIn(_))
        .map(_.toLong)
        .toIndexedSeq
      require(nums.length % 3 == 0, s"$name: ${nums.length} numbers")
      nums.grouped(3).map(g => (g(0).toInt, g(1), g(2))).toSet
    } finally src.close()
  }

  private def checkFromBounds(z: Int, minLon: Double, minLat: Double,
                              maxLon: Double, maxLat: Double, fixture: String): Unit = {
    val got = fromBounds(z, minLon, minLat, maxLon, maxLat)
      .map(c => (unpackZ(c), unpackX(c), unpackY(c))).toSet
    val want = loadCoords(fixture)
    assert(got == want, s"fixture $fixture: extra=${got -- want} missing=${want -- got}")
  }

  test("FromBounds golden fixtures (tile_test.go:337-399)") {
    checkFromBounds(15, -117.15, 32.6339, -116.804, 32.6894743, "san_diego_15z.coords")
    checkFromBounds(11, -117.15, 32.6339, -116.804, 32.6894743, "san_diego_11z.coords")
    checkFromBounds(9, -117.15, 32.6339, -116.804, 32.6894743, "san_diego_9z.coords")
    checkFromBounds(7, 2.636719, 50.625073, 7.613525, 53.820112, "tegola_issue_997.coords")
    checkFromBounds(7, 3.011234, 50.16669, 7.64906, 54.683876,
      "tegola_issue_997_w_seeding_bounds.coords")
  }

  test("FromBounds in EPSG:3857 matches the 4326 golden fixture (tile_test.go SRID 3857 case)") {
    val got = TileGrid.WebMercator.fromBounds(7, 293518.1886, 6555239.5457, 847533.7696, 7136160.9607)
      .map(c => (unpackZ(c), unpackX(c), unpackY(c))).toSet
    val want = loadCoords("tegola_issue_997.coords")
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
  }

  test("mercator forward/inverse round trip") {
    for ((lon, lat) <- Seq((-117.15, 32.69), (2.6367, 50.625), (0.0, 0.0), (179.0, 80.0))) {
      val (x, y) = lonLatToMerc(lon, lat)
      val (lon2, lat2) = mercToLonLat(x, y)
      assert(math.abs(lon - lon2) < 1e-9 && math.abs(lat - lat2) < 1e-9, s"$lon $lat")
    }
  }

  test("tile extent inverse of cellAt") {
    val z = 11
    val (lon, lat) = (-77.035915, 38.889814)
    val c = cellAt(z, lon, lat)
    val e = TileGrid.Wgs84.extent(z, unpackX(c).toInt, unpackY(c).toInt)
    assert(e.containsPoint(lon, lat))
  }
}
