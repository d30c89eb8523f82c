package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Reference test vectors from planar/coord/utm/utm_test.go. */
class UtmSpec extends AnyFunSuite {

  test("FromLngLat: Kabul (WGS84)") {
    val c = Utm.fromLngLat(69.1503666510912, 34.52518357633554).get
    assert(c.zone == Utm.Zone(42, 'S'))
    assert(math.abs(c.northing - 3820400.0) < 5, s"northing ${c.northing}")
    assert(math.abs(c.easting - 513800.0) < 5, s"easting ${c.easting}")
    assert(c.digraph.contains(('W', 'D')))
  }

  test("FromLngLat: Brasil (WGS84)") {
    val c = Utm.fromLngLat(-49.463803, -11.126665).get
    assert(c.zone == Utm.Zone(22, 'L'))
    assert(math.abs(c.northing - 8769581.0) < 5, s"northing ${c.northing}")
    assert(math.abs(c.easting - 667767.0) < 5, s"easting ${c.easting}")
    assert(c.digraph.contains(('F', 'N')))
  }

  test("FromLngLat: perl example (Clarke 1866)") {
    val c = Utm.fromLngLat(-2.788951667, 57.803055556, Utm.Clarke1866).get
    assert(c.zone == Utm.Zone(30, 'V'))
    assert(math.abs(c.northing - 6406592.0) < 5, s"northing ${c.northing}")
    assert(math.abs(c.easting - 512544.0) < 5, s"easting ${c.easting}")
  }

  test("ToLngLat: reference inverse vectors (utm_test.go TestToLngLat)") {
    // Kabul: rounded UTM (3820400, 513800, 42S) inverts to the original
    // coordinates within the reference's 1e-6-relative comparator
    val (klng, klat) = Utm.toLngLat(Utm.Coord(3820400.0, 513800.0, Utm.Zone(42, 'S'))).get
    assert(math.abs(klng - 69.1503666510912) < 1e-4 && math.abs(klat - 34.52518357633554) < 1e-4,
      s"kabul -> ($klng,$klat)")
    // Brazil vector from the reference's own ToLngLat table (zone 23L)
    val (blng, blat) = Utm.toLngLat(Utm.Coord(8769581.0, 667767.0, Utm.Zone(23, 'L'))).get
    assert(math.abs(blng - -43.46380056756961) < 1e-4 && math.abs(blat - -11.126489480072872) < 1e-4,
      s"brazil -> ($blng,$blat)")
  }

  test("zone exceptions: Norway and Svalbard") {
    assert(Utm.zoneNumber(5.0, 60.0) == 32)  // Norway exception
    assert(Utm.zoneNumber(5.0, 75.0) == 31)  // Svalbard
    assert(Utm.zoneNumber(15.0, 75.0) == 33)
    assert(Utm.zoneNumber(5.0, 40.0) == 31)  // no exception at this lat
  }

  test("zone letters cover the C..X bands") {
    assert(Utm.zoneLetter(-80).contains('C'))
    assert(Utm.zoneLetter(0).contains('N'))
    assert(Utm.zoneLetter(50).contains('U'))
    assert(Utm.zoneLetter(84).contains('X'))
    assert(Utm.zoneLetter(85).isEmpty)
    assert(Utm.zoneLetter(-81).isEmpty)
  }

  test("normalizeLng matches the reference's truncating formula") {
    assert(Utm.normalizeLng(190.0) == -170.0)
    // reference quirk: int64 truncation toward zero means western
    // overflow below -180 is NOT wrapped ((-190+180)/360 truncates to 0)
    assert(Utm.normalizeLng(-190.0) == -190.0)
    assert(Utm.normalizeLng(69.15) == 69.15)
    assert(Utm.normalizeLng(540.0) == -180.0)
  }
}
