package graft.core

/** UTM forward/inverse with zone numbers/letters and NATO digraphs
  * (reference planar/coord/utm/utm.go + coord/coord.go).
  *
  * Replicated faithfully, including:
  *  - the Norway/Svalbard zone exceptions (utm.go:144-168)
  *  - the k0 = 0.9996 scale, 500 km false easting, 10 000 km false
  *    northing south of the equator
  *  - the reference's inverse-formula quirk where the d⁶ latitude term is
  *    MULTIPLIED by 720 instead of divided (utm.go ToLngLat; the term is
  *    ~1e-13 for in-zone coordinates so its tests pass — we keep parity).
  */
object Utm {

  final case class Ellipsoid(name: String, radius: Double, eccentricity: Double,
                             natoCompatible: Boolean = false)

  val WGS84: Ellipsoid = Ellipsoid("WGS_84", 6378137, 0.00669438, natoCompatible = true)
  val Clarke1866: Ellipsoid = Ellipsoid("CLARKE_1866", 6378206, 0.006768658)

  final case class Zone(number: Int, letter: Char) {
    def isNorthern: Boolean = letter >= 'N'
    def isValid: Boolean =
      letter >= 'C' && letter <= 'X' && letter != 'O' && number >= 1 && number <= 60
  }

  final case class Coord(northing: Double, easting: Double, zone: Zone,
                         digraph: Option[(Char, Char)] = None)

  private val k0 = 0.9996

  @inline private def toRadian(deg: Double): Double = deg * math.Pi / 180.0
  @inline private def toDegree(rad: Double): Double = rad * 180.0 / math.Pi

  /** reference coord.go NormalizeLng. */
  def normalizeLng(lng: Double): Double =
    lng - ((lng + 180.0) / 360.0).toLong * 360.0

  /** reference utm.go:144-168 — with Norway/Svalbard exceptions. */
  def zoneNumber(lng: Double, lat: Double): Int = {
    if ((lat > 84.0 && lat < 90.0) || (lat > -80.0 && lat < -90.0)) return 0
    if (lat >= 56.0 && lat < 64.0 && lng >= 3.0 && lng < 12.0) return 32
    if (lat >= 72.0 && lat < 84.0) {
      if (lng >= 0.0 && lng < 9.0) return 31
      if (lng >= 9.0 && lng < 21.0) return 33
      if (lng >= 21.0 && lng < 33.0) return 35
      if (lng >= 33.0 && lng < 42.0) return 37
    }
    ((lng + 180) / 6).toInt + 1
  }

  /** reference utm.go:171-231 ZoneLetterForLat (8° bands C..X). */
  def zoneLetter(lat: Double): Option[Char] = {
    if (lat > 84 || lat < -80) return None
    val letters = "CDEFGHJKLMNPQRSTUVWX"
    val idx = ((lat + 80) / 8).toInt
    Some(letters(math.min(idx, letters.length - 1)))
  }

  def zoneFor(lng: Double, lat: Double): Option[Zone] =
    zoneLetter(lat).map(l => Zone(zoneNumber(lng, lat), l))

  private val latDigraphZones = "ABCDEFGHJKLMNPQRSTUVABCDE"
  private val lngDigraphZones = Array(
    Array("VUTS", "WXYX"),
    Array("DCBA", "EFGH"),
    Array("MLKJ", "NPQR"))

  /** reference utm.go:55-71 CentralMeridian. */
  def centralMeridian(zone: Zone): Int = {
    val degrees = Array(3, 9, 15, 21, 27, 33, 39, 45, 51, 57, 63, 69, 75, 81,
      87, 93, 99, 105, 111, 117, 123, 129, 135, 141, 147, 153, 159, 165, 171, 177)
    if (zone.number <= 30) -degrees(30 - zone.number) else degrees(zone.number - 31)
  }

  /** reference utm.go:98-131 newDigraph (NATO grid letters). */
  def digraph(zone: Zone, lng: Double, lat: Double): (Char, Char) = {
    val dZone = lngDigraphZones(zone.number % 3)
    val cm = centralMeridian(zone)
    val degreeDiff = cm.toDouble - lng
    val kmDist = (111 * degreeDiff * math.cos(toRadian(lat))).toInt
    val letterIdx = math.abs(kmDist / 100)
    val sideSelect = if (degreeDiff < 0) 1 else 0
    // clamped: inputs far from the central meridian (e.g. the Norway
    // zone-32 exception) overrun the 4-letter table — the reference
    // panics there; we saturate instead
    val lngLetter = dZone(sideSelect)(math.min(letterIdx, 3))
    val kmDistLat = math.abs(111.0 * lat)
    val offset = if (zone.number % 2 == 0) 4 else -1
    var idx = math.abs(math.ceil((kmDistLat.toInt % 2000).toDouble / 100.0)).toInt
    if (!zone.isNorthern) idx = 21 - idx
    val latLetter = latDigraphZones(
      math.max(0, math.min(offset + idx, latDigraphZones.length - 1)))
    (lngLetter, latLetter)
  }

  /** reference utm.go:296-363 fromLngLat — series forward projection. */
  def fromLngLat(lng0: Double, lat: Double,
                 ellips: Ellipsoid = WGS84): Option[Coord] = {
    val lng = normalizeLng(lng0)
    val zone = zoneFor(lng, lat).getOrElse(return None)
    fromLngLatZone(lng0, lat, zone, ellips)
  }

  /** As `fromLngLat` but with the zone PINNED (EPSG:326xx/327xx semantics:
    * one zone's transverse-mercator covers the whole CRS, points slightly
    * outside the 6° band project against the same central meridian). Needed
    * by the TileGrid projection, where tile corners at low zoom can fall
    * outside the nominal band.
    */
  def fromLngLatZone(lng0: Double, lat: Double, zone: Zone,
                     ellips: Ellipsoid = WGS84): Option[Coord] = {
    if (!zone.isValid) return None
    val lng = normalizeLng(lng0)
    val eccentricity = ellips.eccentricity
    val radius = ellips.radius
    val latRad = toRadian(lat)
    val lngRad = toRadian(lng)
    val lngOrigin = ((zone.number - 1) * 6 - 180 + 3).toDouble
    val lngOriginRad = toRadian(lngOrigin)
    val eccentPrime = eccentricity / (1 - eccentricity)
    val sinLatRad = math.sin(latRad)
    val n = radius / math.sqrt(1 - eccentricity * sinLatRad * sinLatRad)
    val t0 = if (latRad != 0.0) math.tan(latRad) else 0.0
    val cosLatRad = math.cos(latRad)
    val t = t0 * t0
    val c = eccentPrime * eccentPrime * cosLatRad * cosLatRad
    val a = (lngRad - lngOriginRad) * cosLatRad
    val t2 = t * t
    val t3 = t * t * t
    val c2 = c * c
    val a2 = a * a; val a3 = a2 * a; val a4 = a3 * a; val a5 = a4 * a; val a6 = a5 * a
    val e2 = eccentricity * eccentricity
    val e3 = e2 * eccentricity
    val m01 = (1 - eccentricity / 4.0 - 3.0 / 64.0 * e2 - 5.0 / 256.0 * e3) * latRad
    val m02 = (3.0 / 8.0 * eccentricity + 3.0 / 32.0 * e2 + 45.0 / 1024.0 * e3) *
      math.sin(latRad * 2.0)
    val m03 = (15.0 / 256.0 * e2 + 45.0 / 1024.0 * e3) * math.sin(latRad * 4.0)
    val m04 = (35.0 / 3072.0 * e3) * math.sin(latRad * 6.0)
    val m = radius * (m01 - m02 + m03 - m04)
    val easting = k0 * n * (a + (1.0 - t + c) * a3 / 6.0 +
      (5.0 - 10.0 * t3 + 72.0 * c - 58.0 * eccentPrime) * a5 / 120.0) + 500000.0
    var northing = k0 * (m + n * t0 * (a2 / 2.0 +
      (5.0 - t + 9.0 * c + 4.0 * c2) * a4 / 24.0 +
      (61.0 - 58.0 * t + t2 + 600.0 * c - 330.0 * eccentPrime) * a6 / 720.0))
    // False northing keyed on the ZONE's hemisphere, not the latitude
    // sign. Equivalent to the reference's `if lat < 0` (utm.go) when the
    // zone is derived from the latitude (fromLngLat: zoneLetter(lat) is
    // southern ⇔ lat < 0), but hemisphere-CONSISTENT for a pinned zone:
    // EPSG:327xx always applies the 10,000,000 m offset (toLngLat
    // subtracts it back via the same isNorthern test) and 326xx never
    // does (southern points get negative northing, PROJ semantics) — so
    // forward∘inverse round-trips across the equator in both CRS
    // families.
    if (!zone.isNorthern) northing += 10000000.0
    val dg = if (ellips.natoCompatible) Some(digraph(zone, lng, lat)) else None
    Some(Coord(northing, easting, zone, dg))
  }

  /** reference utm.go:373-446 ToLngLat — series inverse (quirk preserved). */
  def toLngLat(c: Coord, ellips: Ellipsoid = WGS84): Option[(Double, Double)] = {
    if (!c.zone.isValid) return None
    val radius = ellips.radius
    val ecc = ellips.eccentricity
    val x = c.easting - 500000.0
    var y = c.northing
    if (!c.zone.isNorthern) y -= 10000000.0
    val ecc2 = ecc * ecc
    val ecc3 = ecc2 * ecc
    val lngOrigin = ((c.zone.number - 1) * 6 - 180 + 3).toDouble
    val eccPrimeSqr = ecc / (1.0 - ecc)
    val m = y / k0
    val mu = m / (radius * (1.0 - ecc / 4.0 - 3.0 / 64.0 * ecc2 - 5.0 / 256.0 * ecc3))
    val e_1 = 1.0 - ecc
    val e1 = (1.0 - math.sqrt(e_1)) / (1.0 + math.sqrt(e_1))
    val e12 = e1 * e1; val e13 = e12 * e1; val e14 = e13 * e1
    val phi1Rad = mu + (3.0 / 2.0 * e1 - 27.0 / 32.0 * e13) * math.sin(mu * 2.0) +
      (21.0 / 16.0 * e12 - 55.0 / 32.0 * e14) * math.sin(mu * 4.0) +
      (151.0 / 96.0 * e13) * math.sin(mu * 6.0)
    val phi1Tan = math.tan(phi1Rad)
    val phi1Sin = math.sin(phi1Rad)
    val phi1Cos = math.cos(phi1Rad)
    val a = 1 - ecc * phi1Sin * phi1Sin
    val n1 = radius / math.sqrt(a)
    val t1 = phi1Tan * phi1Tan
    val t12 = t1 * t1
    val c1 = ecc * phi1Cos * phi1Cos
    val c12 = c1 * c1
    val c12_3 = 3 * c12
    val r1 = radius * e_1 / math.pow(a, 1.5)
    val d = x / (n1 * k0)
    val d2 = d * d; val d3 = d2 * d; val d4 = d3 * d; val d5 = d4 * d; val d6 = d5 * d
    // NOTE: `d6 * 720` (not / 720) — reference quirk, see object scaladoc
    val latRad = phi1Rad - (n1 * phi1Tan / r1) * (d2 / 2 -
      (5 + 3 * t1 + 10 * c1 - 4 * c12 - 9 * eccPrimeSqr) * d4 / 24 +
      (61 + 90 * t1 + 298 * c1 + 45 * t12 - 252 * eccPrimeSqr - c12_3) * d6 * 720)
    val lngRad = (d - (1 + 2 * t1 + c1) * d3 / 6 +
      (5 - 2 * c1 + 28 * t1 - c12_3 + 8 * eccPrimeSqr + 24 * t12) * d5 / 120) / phi1Cos
    Some((lngOrigin + toDegree(lngRad), toDegree(latRad)))
  }
}
