package graft.core

import graft.core.Geom.Pt

/** Map projections beyond the built-in 4326 / 3857 / UTM family —
  * the engine's completion of the reference's `Grid{Srid}` CRS hook
  * (slippy/tile_grid.go:98-151). The reference reaches CRSs through its
  * vendored go-spatial/proj, whose public surface is exactly FOUR codes
  * (vendor/github.com/go-spatial/proj/Convert.go:93-97): 4326, 3857,
  * 3395 (World Mercator, ellipsoidal) and 4087 (equidistant cylindrical).
  * This module:
  *
  *   - adds the two of those four that were still missing here, with the
  *     same formula shapes the vendored proj executes (operations/Merc.go
  *     ellipsoidalForward via Tsfn/Phi2; operations/Eqc.go x = a·λ,
  *     y = a·φ for lat_ts = 0);
  *   - EXTENDS the family with the three projection methods behind most
  *     national and state-plane grids — Lambert Conformal Conic (2SP),
  *     Transverse Mercator with arbitrary parameters, and Albers
  *     Equal-Area — fully parameterized so any such CRS can be declared
  *     from its published parameters, with common EPSG codes pinned in
  *     [[Projection.forSrid]].
  *
  * All formulas are the published EPSG Guidance Note 7-2 / USGS Snyder
  * ("Map Projections — A Working Manual", USGS PP 1395) forms; nothing
  * here is translated from the reference's Go.
  *
  * DATUM NOTE: like the vendored reference proj (no towgs84/grid-shift
  * machinery), this is the map-projection step only — input lon/lat is
  * taken to be geographic coordinates on the CRS's own ellipsoid. For
  * NAD83/GRS80 CRSs the WGS84 difference is centimetric; for legacy
  * datums (OSGB36, NAD27) a real pipeline must datum-shift first.
  */
object Proj {

  /** ellipsoid by semi-major axis + inverse flattening (EPSG registry
    * parameters). `es` = e², `e` = first eccentricity.
    */
  final case class Spheroid(name: String, a: Double, invF: Double) {
    val f: Double = 1.0 / invF
    val es: Double = f * (2.0 - f)
    val e: Double = math.sqrt(es)
  }

  val WGS84: Spheroid = Spheroid("WGS84", 6378137.0, 298.257223563)
  val GRS80: Spheroid = Spheroid("GRS80", 6378137.0, 298.257222101)
  val Airy1830: Spheroid = Spheroid("Airy1830", 6377563.396, 299.3249646)
  val Clarke1866: Spheroid = Spheroid("Clarke1866", 6378206.4, 294.9786982)

  /** metres per US survey foot (exact: 1200/3937). */
  val FtUs: Double = 1200.0 / 3937.0

  @inline private def rad(deg: Double): Double = deg * math.Pi / 180.0
  @inline private def deg(r: Double): Double = r * 180.0 / math.Pi

  /** PROJ's `pj_tsfn` (isometric-colatitude exponential): t(φ) =
    * tan(π/4 − φ/2) / ((1 − e·sinφ)/(1 + e·sinφ))^(e/2). Identity used by
    * the spec as an independent transcription check: t = exp(−ψ) with
    * ψ = atanh(sinφ) − e·atanh(e·sinφ).
    */
  def tsfn(phi: Double, e: Double): Double = {
    val con = e * math.sin(phi)
    math.tan(0.5 * (math.Pi / 2.0 - phi)) /
      math.pow((1.0 - con) / (1.0 + con), 0.5 * e)
  }

  /** PROJ's `pj_msfn`: radius of the parallel / a = cosφ/√(1−e²sin²φ). */
  def msfn(phi: Double, es: Double): Double = {
    val s = math.sin(phi)
    math.cos(phi) / math.sqrt(1.0 - es * s * s)
  }

  /** PROJ's `pj_phi2`: latitude from isometric exponential ts, fixed-point
    * φ ← π/2 − 2·atan(ts·((1−e·sinφ)/(1+e·sinφ))^(e/2)); ≤15 rounds,
    * 1e-12 rad tolerance (deterministic: same doubles → same iterate count).
    */
  def phi2(ts: Double, e: Double): Double = {
    val eHalf = 0.5 * e
    var phi = math.Pi / 2.0 - 2.0 * math.atan(ts)
    var i = 0
    while (i < 15) {
      val con = e * math.sin(phi)
      val next = math.Pi / 2.0 -
        2.0 * math.atan(ts * math.pow((1.0 - con) / (1.0 + con), eHalf))
      val d = next - phi
      phi = next
      if (math.abs(d) < 1e-12) return phi
      i += 1
    }
    phi
  }

  // -------------------------------------------------------------------
  // EPSG:3395 — World Mercator (ellipsoidal, lon_0 = 0, k = 1, WGS84)
  // -------------------------------------------------------------------

  /** operations/Merc.go ellipsoidalForward/-Inverse shapes, ×a applied as
    * in core/ConvertLPToXY.go forwardFinalize (IOUnitsClassic). Poles map
    * to ±∞ northing (the reference errors inside eps10 of the pole; a
    * column kernel has no error channel, and ±∞ keeps the same "not a
    * finite map position" meaning).
    */
  def mercatorForward(sph: Spheroid, lonDeg: Double, latDeg: Double): Pt = {
    val x = sph.a * rad(lonDeg)
    val y = -sph.a * math.log(tsfn(rad(latDeg), sph.e))
    (x, y)
  }

  def mercatorInverse(sph: Spheroid, x: Double, y: Double): Pt = {
    val lat = phi2(math.exp(-y / sph.a), sph.e)
    (deg(x / sph.a), deg(lat))
  }

  // -------------------------------------------------------------------
  // EPSG:4087 — World Equidistant Cylindrical (lat_ts = 0, WGS84 radius)
  // -------------------------------------------------------------------

  def eqcForward(sph: Spheroid, lonDeg: Double, latDeg: Double): Pt =
    (sph.a * rad(lonDeg), sph.a * rad(latDeg))

  def eqcInverse(sph: Spheroid, x: Double, y: Double): Pt =
    (deg(x / sph.a), deg(y / sph.a))

  // -------------------------------------------------------------------
  // Lambert Conformal Conic, 2 standard parallels (EPSG method 9802)
  // -------------------------------------------------------------------

  /** LCC 2SP per EPSG GN7-2 §"Lambert Conic Conformal (2SP)". All linear
    * quantities (and the false origin) are in the CRS's own unit:
    * `metersPerUnit` scales the semi-major axis once, which is exact
    * because every linear output is proportional to a. Standard-parallel
    * order is immaterial (n, F are symmetric in (φ1, φ2)).
    */
  final case class Lcc2SP(sph: Spheroid, lat1Deg: Double, lat2Deg: Double,
                          lat0Deg: Double, lon0Deg: Double,
                          falseE: Double, falseN: Double,
                          metersPerUnit: Double = 1.0) {
    private val aU = sph.a / metersPerUnit
    private val phi1 = rad(lat1Deg)
    private val phi2r = rad(lat2Deg)
    private val phi0 = rad(lat0Deg)
    val lam0: Double = rad(lon0Deg)
    private val m1 = msfn(phi1, sph.es)
    private val m2 = msfn(phi2r, sph.es)
    private val t1 = tsfn(phi1, sph.e)
    private val t2 = tsfn(phi2r, sph.e)
    private val t0 = tsfn(phi0, sph.e)
    /** cone constant. */
    val n: Double = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    val bigF: Double = m1 / (n * math.pow(t1, n))
    /** radius of the false-origin parallel, CRS units. */
    val r0: Double = aU * bigF * math.pow(t0, n)

    def forward(lonDeg: Double, latDeg: Double): Pt = {
      val t = tsfn(rad(latDeg), sph.e)
      val r = aU * bigF * math.pow(t, n)
      val theta = n * (rad(lonDeg) - lam0)
      (falseE + r * math.sin(theta), falseN + r0 - r * math.cos(theta))
    }

    def inverse(easting: Double, northing: Double): Pt = {
      val dx = easting - falseE
      val dy = r0 - (northing - falseN)
      // EPSG: r′ and θ′ take the sign of n
      val sgn = if (n >= 0) 1.0 else -1.0
      val rp = sgn * math.sqrt(dx * dx + dy * dy)
      val theta = math.atan2(sgn * dx, sgn * dy)
      val tp = math.pow(rp / (aU * bigF), 1.0 / n)
      val phi = Proj.phi2(tp, sph.e)
      (deg(theta / n + lam0), deg(phi))
    }
  }

  // -------------------------------------------------------------------
  // Transverse Mercator, arbitrary parameters (EPSG method 9807)
  // -------------------------------------------------------------------

  /** General TM via the USGS series (Snyder eq. 3-21, 8-9..8-17) with
    * arbitrary scale/origin/false offsets — the engine's existing
    * core/Utm.scala stays the reference-parity UTM (it preserves utm.go's
    * series quirks, rounded e², and the d⁶·720 inverse quirk); this is the
    * CORRECT series for declaring non-UTM TM grids like OSGB.
    */
  final case class Tm(sph: Spheroid, k0: Double, lat0Deg: Double,
                      lon0Deg: Double, falseE: Double, falseN: Double,
                      metersPerUnit: Double = 1.0) {
    private val aU = sph.a / metersPerUnit
    private val es = sph.es
    private val ep2 = es / (1.0 - es)
    private val lam0 = rad(lon0Deg)
    private val mc1 = 1.0 - es / 4.0 - 3.0 * es * es / 64.0 - 5.0 * es * es * es / 256.0
    private val mc2 = 3.0 * es / 8.0 + 3.0 * es * es / 32.0 + 45.0 * es * es * es / 1024.0
    private val mc3 = 15.0 * es * es / 256.0 + 45.0 * es * es * es / 1024.0
    private val mc4 = 35.0 * es * es * es / 3072.0

    /** meridian arc from the equator, CRS units (Snyder 3-21). */
    def meridianArc(phi: Double): Double =
      aU * (mc1 * phi - mc2 * math.sin(2.0 * phi) + mc3 * math.sin(4.0 * phi) -
        mc4 * math.sin(6.0 * phi))

    private val m0 = meridianArc(rad(lat0Deg))

    def forward(lonDeg: Double, latDeg: Double): Pt = {
      val phi = rad(latDeg)
      val sinP = math.sin(phi); val cosP = math.cos(phi)
      val nu = aU / math.sqrt(1.0 - es * sinP * sinP)
      val tanP = math.tan(phi)
      val bigT = tanP * tanP
      val bigC = ep2 * cosP * cosP
      val bigA = (rad(lonDeg) - lam0) * cosP
      val a2 = bigA * bigA; val a3 = a2 * bigA; val a4 = a3 * bigA
      val a5 = a4 * bigA; val a6 = a5 * bigA
      val m = meridianArc(phi)
      val e = falseE + k0 * nu * (bigA + (1.0 - bigT + bigC) * a3 / 6.0 +
        (5.0 - 18.0 * bigT + bigT * bigT + 72.0 * bigC - 58.0 * ep2) * a5 / 120.0)
      val nOut = falseN + k0 * (m - m0 + nu * tanP * (a2 / 2.0 +
        (5.0 - bigT + 9.0 * bigC + 4.0 * bigC * bigC) * a4 / 24.0 +
        (61.0 - 58.0 * bigT + bigT * bigT + 600.0 * bigC - 330.0 * ep2) * a6 / 720.0))
      (e, nOut)
    }

    def inverse(easting: Double, northing: Double): Pt = {
      val m = m0 + (northing - falseN) / k0
      val mu = m / (aU * mc1)
      val sq = math.sqrt(1.0 - es)
      val e1 = (1.0 - sq) / (1.0 + sq)
      val e12 = e1 * e1; val e13 = e12 * e1; val e14 = e13 * e1
      val phi1 = mu + (3.0 * e1 / 2.0 - 27.0 * e13 / 32.0) * math.sin(2.0 * mu) +
        (21.0 * e12 / 16.0 - 55.0 * e14 / 32.0) * math.sin(4.0 * mu) +
        (151.0 * e13 / 96.0) * math.sin(6.0 * mu) +
        (1097.0 * e14 / 512.0) * math.sin(8.0 * mu)
      val sinP = math.sin(phi1); val cosP = math.cos(phi1)
      val tanP = math.tan(phi1)
      val c1 = ep2 * cosP * cosP
      val t1 = tanP * tanP
      val den = 1.0 - es * sinP * sinP
      val n1 = aU / math.sqrt(den)
      val r1 = aU * (1.0 - es) / math.pow(den, 1.5)
      val d = (easting - falseE) / (n1 * k0)
      val d2 = d * d; val d3 = d2 * d; val d4 = d3 * d; val d5 = d4 * d; val d6 = d5 * d
      val phi = phi1 - (n1 * tanP / r1) * (d2 / 2.0 -
        (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * ep2) * d4 / 24.0 +
        (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1 - 252.0 * ep2 -
          3.0 * c1 * c1) * d6 / 720.0)
      val lam = lam0 + (d - (1.0 + 2.0 * t1 + c1) * d3 / 6.0 +
        (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + 8.0 * ep2 +
          24.0 * t1 * t1) * d5 / 120.0) / cosP
      (deg(lam), deg(phi))
    }
  }

  // -------------------------------------------------------------------
  // Albers Equal-Area Conic (EPSG method 9822)
  // -------------------------------------------------------------------

  /** Albers per Snyder eq. 14-1..14-11 / 3-16 (ellipsoidal). */
  final case class Aea(sph: Spheroid, lat1Deg: Double, lat2Deg: Double,
                       lat0Deg: Double, lon0Deg: Double,
                       falseE: Double, falseN: Double,
                       metersPerUnit: Double = 1.0) {
    private val aU = sph.a / metersPerUnit
    private val es = sph.es
    private val e = sph.e
    private val lam0 = rad(lon0Deg)

    /** Snyder 3-12: the equal-area q function. */
    def qfn(phi: Double): Double = {
      val s = math.sin(phi)
      val con = e * s
      (1.0 - es) * (s / (1.0 - es * s * s) -
        (1.0 / (2.0 * e)) * math.log((1.0 - con) / (1.0 + con)))
    }

    private val m1 = msfn(rad(lat1Deg), es)
    private val m2 = msfn(rad(lat2Deg), es)
    private val q1 = qfn(rad(lat1Deg))
    private val q2 = qfn(rad(lat2Deg))
    private val q0 = qfn(rad(lat0Deg))
    /** cone constant (Snyder 14-8). */
    val n: Double = (m1 * m1 - m2 * m2) / (q2 - q1)
    val bigC: Double = m1 * m1 + n * q1
    val rho0: Double = aU * math.sqrt(bigC - n * q0) / n

    def forward(lonDeg: Double, latDeg: Double): Pt = {
      val q = qfn(rad(latDeg))
      val rho = aU * math.sqrt(bigC - n * q) / n
      val theta = n * (rad(lonDeg) - lam0)
      (falseE + rho * math.sin(theta), falseN + rho0 - rho * math.cos(theta))
    }

    def inverse(easting: Double, northing: Double): Pt = {
      val dx = easting - falseE
      val dy = rho0 - (northing - falseN)
      val sgn = if (n >= 0) 1.0 else -1.0
      val rho = math.sqrt(dx * dx + dy * dy)
      val theta = math.atan2(sgn * dx, sgn * dy)
      val rn = rho * n / aU
      val q = (bigC - rn * rn) / n
      // |q| beyond the polar value ⇒ the pole itself (Snyder p.102)
      val qPole = qfn(math.Pi / 2.0)
      val phi =
        if (math.abs(q) >= math.abs(qPole)) math.copySign(math.Pi / 2.0, q)
        else {
          // Snyder 3-16 fixed-point from φ₀ = asin(q/2); deterministic
          // bounded iteration like phi2
          var p = math.asin(q / 2.0)
          var i = 0
          while (i < 15) {
            val s = math.sin(p); val c = math.cos(p)
            val con = e * s
            val den = 1.0 - es * s * s
            val dp = (den * den / (2.0 * c)) * (q / (1.0 - es) - s / den +
              (1.0 / (2.0 * e)) * math.log((1.0 - con) / (1.0 + con)))
            p += dp
            if (math.abs(dp) < 1e-12) i = 15 else i += 1
          }
          p
        }
      (deg(theta / n + lam0), deg(phi))
    }
  }
}
