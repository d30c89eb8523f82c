package graft.core

import graft.core.Geom._

/** Arbitrary-SRID tile gridder (reference slippy/tile_grid.go:98-151
  * `Grid{Srid}`): FromNative = project the native point back to 4326
  * (proj.Inverse) then the shared lon2Num/lat2Num tile math in Slippy;
  * ToNative = x2deg/y2deg then project 4326 → native (proj.Convert);
  * Extent = ToNative(t) ∪ ToNative(z, x+1, y+1). The reference delegates
  * the projection pair to go-spatial/proj; here it is a first-class trait
  * so any SRID with a forward/inverse pair gets the full grid: 4326
  * (identity), 3857 (spherical mercator), 3395/4087, the UTM zones and the
  * LCC/TM/Albers CRSs of core/Proj.scala.
  */
trait Projection extends Serializable {
  def srid: Int
  /** 4326 lon/lat → native coordinates (reference proj.Convert). */
  def forward(lon: Double, lat: Double): Pt
  /** native coordinates → 4326 lon/lat (reference proj.Inverse). */
  def inverse(x: Double, y: Double): Pt
}

object Projection {

  val Epsg4326: Projection = new Projection {
    val srid = 4326
    def forward(lon: Double, lat: Double): Pt = (lon, lat)
    def inverse(x: Double, y: Double): Pt = (x, y)
  }

  val Epsg3857: Projection = new Projection {
    val srid = 3857
    def forward(lon: Double, lat: Double): Pt = Slippy.lonLatToMerc(lon, lat)
    def inverse(x: Double, y: Double): Pt = Slippy.mercToLonLat(x, y)
  }

  /** UTM zone CRS (EPSG:326xx north / 327xx south) — a real CURVED
    * (transverse-mercator) member of the Grid{Srid} family
    * (tile_grid.go:123-151: the reference reaches these through
    * go-spatial/proj Convert/Inverse), backed by the series forward/
    * inverse already in core/Utm.scala:100/141. The zone is pinned, so
    * the projection is a total function of (lon, lat) like any EPSG CRS.
    */
  def utm(zone: Utm.Zone): Projection = {
    require(zone.isValid, s"invalid UTM zone $zone")
    val z0 = zone
    // the NATO digraph is per-point trig + allocations the projection
    // discards — disable it for the hot tile path (Coord math unchanged)
    val projEllips = Utm.WGS84.copy(natoCompatible = false)
    new Projection {
      val srid = (if (z0.isNorthern) 32600 else 32700) + z0.number
      def forward(lon: Double, lat: Double): Pt = {
        val c = Utm.fromLngLatZone(lon, lat, z0, projEllips).get
        (c.easting, c.northing)
      }
      def inverse(x: Double, y: Double): Pt =
        Utm.toLngLat(Utm.Coord(y, x, z0)).get
    }
  }

  /** wrap a core/Proj.scala forward/inverse pair as a Projection. */
  private def of(srid0: Int)(fwd: (Double, Double) => Pt,
                             inv: (Double, Double) => Pt): Projection = {
    val s0 = srid0
    new Projection {
      val srid = s0
      def forward(lon: Double, lat: Double): Pt = fwd(lon, lat)
      def inverse(x: Double, y: Double): Pt = inv(x, y)
    }
  }

  /** EPSG:3395 World Mercator — the reference's remaining proj code
    * (vendored Convert.go:94), ellipsoidal forward/inverse.
    */
  val Epsg3395: Projection =
    of(3395)(Proj.mercatorForward(Proj.WGS84, _, _), Proj.mercatorInverse(Proj.WGS84, _, _))

  /** EPSG:4087 World Equidistant Cylindrical (vendored Convert.go:96). */
  val Epsg4087: Projection =
    of(4087)(Proj.eqcForward(Proj.WGS84, _, _), Proj.eqcInverse(Proj.WGS84, _, _))

  /** Pinned beyond-reference CRSs (published EPSG parameters; see
    * core/Proj.scala's datum note). Any other LCC/TM/Albers CRS is one
    * `Proj.Lcc2SP/Tm/Aea` declaration away — these are the family's
    * common representatives, not a closed list.
    */
  val Epsg2263: Projection = { // NAD83 / New York Long Island (ftUS)
    val p = Proj.Lcc2SP(Proj.GRS80, 40.0 + 40.0 / 60.0, 41.0 + 2.0 / 60.0,
      40.0 + 10.0 / 60.0, -74.0, 984250.0, 0.0, Proj.FtUs)
    of(2263)(p.forward, p.inverse)
  }
  val Epsg2154: Projection = { // RGF93 / Lambert-93 (France)
    val p = Proj.Lcc2SP(Proj.GRS80, 44.0, 49.0, 46.5, 3.0, 700000.0, 6600000.0)
    of(2154)(p.forward, p.inverse)
  }
  val Epsg3347: Projection = { // NAD83 / Statistics Canada Lambert
    val p = Proj.Lcc2SP(Proj.GRS80, 49.0, 77.0, 63.390675,
      -(91.0 + 52.0 / 60.0), 6200000.0, 3000000.0)
    of(3347)(p.forward, p.inverse)
  }
  val Epsg27700: Projection = { // OSGB36 / British National Grid
    val p = Proj.Tm(Proj.Airy1830, 0.9996012717, 49.0, -2.0, 400000.0, -100000.0)
    of(27700)(p.forward, p.inverse)
  }
  val Epsg5070: Projection = { // NAD83 / Conus Albers
    val p = Proj.Aea(Proj.GRS80, 29.5, 45.5, 23.0, -96.0, 0.0, 0.0)
    of(5070)(p.forward, p.inverse)
  }
  val Epsg3310: Projection = { // NAD83 / California Albers
    val p = Proj.Aea(Proj.GRS80, 34.0, 40.5, 0.0, -120.0, 0.0, -4000000.0)
    of(3310)(p.forward, p.inverse)
  }

  def forSrid(srid: Int): Option[Projection] = srid match {
    case 4326                           => Some(Epsg4326)
    case 3857                           => Some(Epsg3857)
    case 3395                           => Some(Epsg3395)
    case 4087                           => Some(Epsg4087)
    case 2263                           => Some(Epsg2263)
    case 2154                           => Some(Epsg2154)
    case 3347                           => Some(Epsg3347)
    case 27700                          => Some(Epsg27700)
    case 5070                           => Some(Epsg5070)
    case 3310                           => Some(Epsg3310)
    case s if s > 32600 && s <= 32660   => Some(utm(Utm.Zone(s - 32600, 'N')))
    case s if s > 32700 && s <= 32760   => Some(utm(Utm.Zone(s - 32700, 'M')))
    case _                              => None
  }
}

/** the gridder proper — all methods in the projection's native units. */
final case class TileGrid(projection: Projection) {

  /** FromNative (tile_grid.go:109-121): inverse to 4326, shared tile math. */
  def cellAt(z: Int, nx: Double, ny: Double): Long = {
    val (lon, lat) = projection.inverse(nx, ny)
    Slippy.cellAt(z, lon, lat)
  }

  /** ToNative (tile_grid.go:123-131): the tile's upper-left corner. */
  def toNative(z: Int, x: Int, y: Int): Pt =
    projection.forward(Slippy.x2deg(z, x), Slippy.y2deg(z, y))

  /** Extent (tile_grid.go:48-58): ToNative(t) ∪ ToNative(x+1, y+1). */
  def extent(z: Int, x: Int, y: Int): Extent = {
    val (x1, y1) = toNative(z, x, y)
    val (x2, y2) = toNative(z, x + 1, y + 1)
    Extent(math.min(x1, x2), math.min(y1, y2), math.max(x1, x2), math.max(y1, y2))
  }

  /** FromBounds (tile.go:111-145 over this grid): the corners in 4326, then
    * Slippy's cover loop.
    */
  def fromBounds(z: Int, minX: Double, minY: Double,
                 maxX: Double, maxY: Double): IndexedSeq[Long] = {
    val (lon1, lat1) = projection.inverse(minX, minY)
    val (lon2, lat2) = projection.inverse(maxX, maxY)
    Slippy.fromBounds(z, lon1, lat1, lon2, lat2)
  }
}

object TileGrid {
  val Wgs84 = TileGrid(Projection.Epsg4326)
  val WebMercator = TileGrid(Projection.Epsg3857)
}
