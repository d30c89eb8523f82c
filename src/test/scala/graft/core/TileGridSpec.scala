package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Slippy._

/** Arbitrary-SRID tile gridder (reference slippy/tile_grid.go Grid{Srid})
  * — the goldens re-run through Grid(4326), Grid(3857) and a UTM zone.
  */
class TileGridSpec extends AnyFunSuite {

  private def loadCoords(name: String): Set[(Int, Long, Long)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/slippy/$name"))
    try {
      val nums = src.getLines()
        .map(_.takeWhile(_ != '#'))
        .flatMap("""\d+""".r.findAllIn(_))
        .map(_.toLong)
        .toIndexedSeq
      nums.grouped(3).map(g => (g(0).toInt, g(1), g(2))).toSet
    } finally src.close()
  }

  private def cells(cs: IndexedSeq[Long]): Set[(Int, Long, Long)] =
    cs.map(c => (unpackZ(c), unpackX(c), unpackY(c))).toSet

  test("Grid(4326) FromBounds matches the golden fixtures and Slippy.fromBounds") {
    val g = TileGrid.Wgs84
    val got = cells(g.fromBounds(7, 2.636719, 50.625073, 7.613525, 53.820112))
    assert(got == loadCoords("tegola_issue_997.coords"))
    for ((z, a, b, c, d) <- Seq((15, -117.15, 32.6339, -116.804, 32.6894743),
                                (9, -117.15, 32.6339, -116.804, 32.6894743))) {
      assert(g.fromBounds(z, a, b, c, d) == fromBounds(z, a, b, c, d), s"z$z")
    }
  }

  test("Grid(3857) matches the hand-ported 3857 path and the golden fixture") {
    val g = TileGrid.WebMercator
    val got = cells(g.fromBounds(7, 293518.1886, 6555239.5457, 847533.7696, 7136160.9607))
    assert(got == loadCoords("tegola_issue_997.coords"))
    // exact bits of the 3857 cell and extents, as the hand-ported path gave
    // them (the MVT tile-extent oracles of q33/q43/q45 hash these doubles)
    assert(g.cellAt(9, 350 * 1.0e4, 200 * 1.0e4) == 2594073546426679526L)
    for (((z, x, y), want) <- Seq(
        (9, 350, 200) -> Seq(0x415C1114A60E3858L, 0x41506C095BB69E3DL,
                             0x415C5D8487242898L, 0x4150B8793CCC8E7EL),
        (6, 37, 25) -> Seq(0x4147E2F656DB14B7L, 0x414CA9F4683A18DCL,
                           0x414CA9F4683A18DCL, 0x4150B8793CCC8E7EL),
        (0, 0, 0) -> Seq(0xC1731BF8457C1093L, 0xC1731BF8457C109AL,
                         0x41731BF8457C1093L, 0x41731BF8457C1093L))) {
      val e = g.extent(z, x, y)
      val bits = Seq(e.minx, e.miny, e.maxx, e.maxy).map(java.lang.Double.doubleToRawLongBits)
      assert(bits == want, s"$z/$x/$y: $e")
    }
  }

  test("Grid(UTM 11) — a real curved CRS: round trips, goldens, extent/cell parity") {
    // San Diego sits in UTM zone 11, letter S (tile_grid.go:123-151 shape
    // with a genuine transverse-mercator forward/inverse, not an affine)
    val zone = Utm.zoneFor(-117.0, 32.66).get
    assert(zone == Utm.Zone(11, 'S'))
    val p = Projection.utm(zone)
    assert(p.srid == 32611)
    // forward/inverse round-trip near the central meridian (the series
    // inverse carries the reference's d6*720 quirk; error vanishes as the
    // meridian distance d → 0 and stays ≪ 1e-6° in-zone)
    for ((lon, lat) <- Seq((-117.15, 32.6339), (-116.804, 32.6894743), (-117.0, 33.0))) {
      val (nx, ny) = p.forward(lon, lat)
      val (lon2, lat2) = p.inverse(nx, ny)
      assert(math.abs(lon - lon2) < 1e-6 && math.abs(lat - lat2) < 1e-6, s"$lon $lat → $lon2 $lat2")
    }
    // FromBounds over the native-projected San Diego box reproduces the
    // 4326 tile assignment (FromNative = Inverse → shared tile math)
    val g = TileGrid(p)
    val (ax, ay) = p.forward(-117.15, 32.6339)
    val (bx, by) = p.forward(-116.804, 32.6894743)
    for (z <- Seq(9, 15)) {
      assert(g.fromBounds(z, ax, ay, bx, by) ==
        Slippy.fromBounds(z, -117.15, 32.6339, -116.804, 32.6894743), s"z$z")
    }
    // FromNative(center(ToNative-extent)) lands back on the tile, and the
    // cover of a tile's own (slightly shrunk) extent contains that tile
    for ((z, x, y) <- Seq((9, 89, 204), (12, 714, 1635), (15, 5719, 13082))) {
      val e = g.extent(z, x, y)
      val c = g.cellAt(z, (e.minx + e.maxx) / 2, (e.miny + e.maxy) / 2)
      assert((unpackZ(c), unpackX(c), unpackY(c)) == ((z, x.toLong, y.toLong)), s"$z/$x/$y")
      val cover = cells(g.fromBounds(z, e.minx + 1e-6, e.miny + 1e-6, e.maxx - 1e-6, e.maxy - 1e-6))
      assert(cover.contains((z, x.toLong, y.toLong)), s"$z/$x/$y: $cover")
    }
    // cross-hemisphere consistency (round-4 review finding): a pinned
    // zone's false northing keys on the CRS hemisphere, not the point's
    // latitude sign, so forward∘inverse round-trips across the equator —
    // southern CRS with a northern point and vice versa
    for ((srid, lon, lat) <- Seq((32701, -177.0, 10.0), (32701, -177.0, -10.0),
                                 (32601, -177.0, -10.0), (32601, -177.0, 10.0))) {
      val pp = Projection.forSrid(srid).get
      val (nx, ny) = pp.forward(lon, lat)
      val (lon2, lat2) = pp.inverse(nx, ny)
      assert(math.abs(lon - lon2) < 1e-6 && math.abs(lat - lat2) < 1e-6,
        s"EPSG:$srid ($lon,$lat) → ($nx,$ny) → ($lon2,$lat2)")
      // hemisphere convention: 327xx always offset (+1e7), 326xx never
      if (srid > 32700) assert(ny > 0, s"EPSG:$srid northing $ny should carry the false northing")
      else if (lat < 0) assert(ny < 0, s"EPSG:$srid southern point should have negative northing")
    }
    // forSrid wires the whole EPSG range
    assert(Projection.forSrid(32611).get.srid == 32611)
    assert(Projection.forSrid(32733).get.srid == 32733)
    assert(Projection.forSrid(32761).isEmpty && Projection.forSrid(32600).isEmpty)
  }
}
