package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.{KernelCall, KernelSig, Shim}
import org.apache.spark.sql.types._

import graft.core.{Slippy, WkbKernels}
import GeomKernels.{envStruct, intersectStruct, mvtStruct, pointStruct, segStruct}
import UtmKernels.{lngLatStruct, utmStruct}

/** Every SQL function of the engine, declared once in `table`, with its
  * Column API and its SQL registration.
  *
  * `GeomFunctions.register(spark)` makes every function callable from SQL
  * (`SELECT st_cell_at(lon, lat, 15) ...`); the `st_*` Scala methods build
  * the same Columns for the DataFrame API.
  */
object GeomFunctions {

  private def fn(name: String, kernels: AnyRef, kernel: String, result: DataType,
                 args: DataType*): KernelSig =
    KernelSig(name, kernels.getClass, kernel, result, args)

  private val longs = ArrayType(LongType, containsNull = false)

  /** One row per function: SQL name, kernel object and method, result
    * type, argument types.
    */
  private[graft] val table: Seq[KernelSig] = Seq(
    // ---- codecs / constructors / accessors ----
    // WKT text → WKB binary (null on parse failure). reference wkt_decode.go.
    fn("st_geomfromwkt", WkbKernels, "fromWkt", BinaryType, StringType),
    // WKB → WKT text. reference wkt_encode.go.
    fn("st_aswkt", GeomKernels, "asWkt", StringType, BinaryType),
    // WKB → GeoJSON text (reference encoding/geojson).
    fn("st_asgeojson", GeomKernels, "asGeoJson", StringType, BinaryType),
    // GeoJSON text → WKB (null on parse failure).
    fn("st_geomfromgeojson", GeomKernels, "fromGeoJson", BinaryType, StringType),
    // (x, y) → point WKB.
    fn("st_point", GeomKernels, "point", BinaryType, DoubleType, DoubleType),
    // (minx,miny,maxx,maxy) → rectangle polygon WKB with the reference's CW
    // vertex order (bbox.go:35-42 Vertices / AsPolygon).
    fn("st_box_polygon", GeomKernels, "boxPolygon", BinaryType,
      DoubleType, DoubleType, DoubleType, DoubleType),
    fn("st_x", GeomKernels, "pointX", DoubleType, BinaryType),
    fn("st_y", GeomKernels, "pointY", DoubleType, BinaryType),
    fn("st_geomtype", GeomKernels, "geomType", StringType, BinaryType),
    // bbox of a geometry (reference bbox.go AddGeometry / NewExtentFromGeometry).
    fn("st_envelope", GeomKernels, "envelope", envStruct, BinaryType),
    // all coordinates (reference geom.go:331-406 GetCoordinates).
    fn("st_dump_points", GeomKernels, "dumpPoints",
      ArrayType(pointStruct, containsNull = false), BinaryType),
    // all segments incl. ring-closing edges (reference geom.go:470-546).
    fn("st_segments", GeomKernels, "segmentsOf",
      ArrayType(segStruct, containsNull = false), BinaryType),
    fn("st_num_points", GeomKernels, "numPoints", IntegerType, BinaryType),

    // ---- point-in-polygon (hitmap semantics) and ring containment ----
    // Point-in-polygon with the reference's hitmap semantics (exterior rings
    // border-inclusive, holes border-exclusive, 20-bit point pre-rounding —
    // hitmap/polygon_hitmap.go:90-127); WkbKernels caches the decoded
    // polygon + hitmap per thread and WKB value.
    fn("st_contains", WkbKernels, "contains", BooleanType, BinaryType, DoubleType, DoubleType),
    // Raw ray-cast ring containment (reference planar/intersect/ring.go:73-154)
    // against a polygon's exterior ring with explicit border flag.
    fn("st_ring_contains", WkbKernels, "ringContains", BooleanType,
      BinaryType, DoubleType, DoubleType, BooleanType),

    // ---- slippy tiles ----
    // (lon, lat, z) → packed cell id (z<<58 | x<<29 | y).
    fn("st_cell_at", GeomKernels, "cellAt", LongType, DoubleType, DoubleType, IntegerType),
    fn("st_lon2tile", GeomKernels, "lon2Tile", LongType, DoubleType, IntegerType),
    fn("st_lat2tile", GeomKernels, "lat2Tile", LongType, DoubleType, IntegerType),
    fn("st_tile2lon", GeomKernels, "tile2Lon", DoubleType, IntegerType, LongType),
    fn("st_tile2lat", GeomKernels, "tile2Lat", DoubleType, IntegerType, LongType),
    fn("st_cell_z", Slippy, "unpackZ", IntegerType, LongType),
    fn("st_cell_x", Slippy, "unpackX", LongType, LongType),
    fn("st_cell_y", Slippy, "unpackY", LongType, LongType),
    // FamilyAt: ancestor (single) or descendants (2^mag × 2^mag block) —
    // reference tile.go:76-99.
    fn("st_family_at", GeomKernels, "familyAt", longs, LongType, IntegerType),
    // tiles covering a lon/lat bbox at z — reference tile.go:111-145 FromBounds.
    fn("st_tiles_for_bounds", GeomKernels, "tilesForBounds", longs,
      DoubleType, DoubleType, DoubleType, DoubleType, IntegerType),
    // FromBounds over the EPSG:3857 grid (reference slippy/tile_grid.go
    // FromBounds with the web-mercator native extent) — bounds in meters.
    fn("st_tiles_for_bounds_3857", GeomKernels, "tilesForBounds3857", longs,
      DoubleType, DoubleType, DoubleType, DoubleType, IntegerType),
    // per-row adaptive cover zoom: the deepest level of `Slippy.coverLevels(zmax)`
    // at which the bbox covers ≤ `cap` cells — bounds a spatial join's per-row
    // replication. Composes the reference's FromBounds grid walk
    // (tile.go:111-145) with the TileMinMaxer idea (tile_grid.go:60-95) of
    // climbing zooms until the geometry fits.
    fn("st_cover_zoom", GeomKernels, "coverZoom", IntegerType,
      DoubleType, DoubleType, DoubleType, DoubleType, IntegerType, IntegerType),
    // bbox cover cells at EACH of the given zoom levels, concatenated (cells
    // pack their zoom, so levels never collide as join keys). A degenerate
    // point bbox yields the point's ancestor ladder — one cell per level.
    fn("st_cover_at_levels", GeomKernels, "coverAtLevels", longs,
      DoubleType, DoubleType, DoubleType, DoubleType, ArrayType(IntegerType)),
    // tile extent in 4326 (reference tile_grid.go:48-58).
    fn("st_tile_envelope", GeomKernels, "tileEnvelope", envStruct, LongType),
    // tile extent in web-mercator meters (reference slippy/tile_grid.go:96-108
    // FromNative/Extent for the 3857 grid): struct(minx,miny,maxx,maxy).
    fn("st_tile_extent_3857", GeomKernels, "tileExtent3857", envStruct,
      IntegerType, LongType, LongType),

    // ---- geometry transforms ----
    // Douglas-Peucker (reference douglaspeucker.go + simplify.go dispatch).
    fn("st_simplify", GeomKernels, "simplify", BinaryType, BinaryType, DoubleType),
    // clip to box (reference clip/clip.go dispatch; polygons ⇒ null, matching
    // ErrUnsupportedGeometry — they go through makevalid).
    fn("st_clip", GeomKernels, "clip", BinaryType,
      BinaryType, DoubleType, DoubleType, DoubleType, DoubleType),
    // makevalid — constrained-Delaunay polygon repair as a scalar operator:
    // sequential per row, parallelism comes from rows (reference
    // planar/makevalid/makevalid.go:190-235; SURVEY.md §2.7). NaN clip
    // coordinates mean "no clipbox" (the reference's nil-extent-as-universe
    // convention, bbox.go:27-29).
    fn("st_makevalid", GeomKernels, "makeValid", BinaryType,
      BinaryType, DoubleType, DoubleType, DoubleType, DoubleType),
    // winding of the primary point sequence (reference winding.go Orientation,
    // y-up): polygon exterior ring / linestring vertices; -1 CW, 0 colinear, 1 CCW.
    fn("st_winding", GeomKernels, "winding", IntegerType, BinaryType),
    // RectifyPolygon (reference winding.go:203-236): exterior CW, holes CCW,
    // colinear rings dropped; colinear exterior ⇒ null.
    fn("st_rectify_polygon", GeomKernels, "rectifyPolygon", BinaryType, BinaryType),
    // reference planar/centriod.go PointsCentriod — quirk preserved. Applied
    // to a polygon's exterior ring (open) or a linestring's points.
    fn("st_centroid_ref", GeomKernels, "centroidRef", pointStruct, BinaryType),

    // ---- MVT tiles ----
    // project geometry into tile pixel space (reference mvt/prepare.go).
    fn("st_prepare_tile", WkbKernels, "prepareTile", BinaryType, BinaryType, LongType),
    // PrepareGeo against an explicit native-unit tile extent (reference
    // mvt/prepare.go:13-78, the cmd/main.go:229 call shape) — unlike
    // st_prepare_tile this takes the extent in meters/degrees directly, as
    // the 3857 pipeline needs.
    fn("st_prepare_extent", GeomKernels, "prepareExtent", BinaryType,
      BinaryType, DoubleType, DoubleType, DoubleType, DoubleType),
    // MVT command stream of a tile-space geometry (reference mvt/feature.go):
    // struct(commands array<long> of uint32 values, geom_type int).
    fn("st_mvt_geometry", GeomKernels, "mvtGeometry", mvtStruct, BinaryType),
    // The FUSED cmd/main.go tile pipeline (cmd/main.go:110-280) as one scalar
    // kernel: tile extent → 1-px clipRegion → DP simplify at the pixel span →
    // makevalid → PrepareGeo(4096px) → MVT command stream, with ONE WKB decode
    // and ZERO intermediate encodes. Bit-identical to the five-stage chain
    // (WKB round-trips are exact) with ~10× less allocation per row; null on
    // null/unparseable input or irreparable geometry, exactly like the chain.
    fn("st_mvt_pipeline", GeomKernels, "mvtPipeline", mvtStruct,
      BinaryType, IntegerType, LongType, LongType),

    // ---- scalar planar math (pure doubles — exact across engines) ----
    // perpendicular distance of (px,py) to the infinite line (x1,y1)-(x2,y2).
    fn("st_perpendicular_distance", GeomKernels, "perpendicularDistance", DoubleType,
      DoubleType, DoubleType, DoubleType, DoubleType, DoubleType, DoubleType),
    // clamped distance of (px,py) to the segment (x1,y1)-(x2,y2).
    fn("st_distance_to_segment", GeomKernels, "distanceToSegment", DoubleType,
      DoubleType, DoubleType, DoubleType, DoubleType, DoubleType, DoubleType),
    // segment × segment intersection (reference line_intersect.go:141-178).
    fn("st_seg_intersect", GeomKernels, "segIntersect", intersectStruct,
      DoubleType, DoubleType, DoubleType, DoubleType, DoubleType, DoubleType, DoubleType,
      DoubleType),
    // orientation of 3 points (reference winding.go Orientation, y-up).
    fn("st_orient", GeomKernels, "orient", IntegerType,
      DoubleType, DoubleType, DoubleType, DoubleType, DoubleType, DoubleType),

    // ---- projections ----
    // UTM forward projection (WGS84): (lng, lat) → struct(northing, easting,
    // zone_number, zone_letter); null outside the C..X latitude bands.
    fn("st_utm_from_lnglat", UtmKernels, "fromLngLat", utmStruct, DoubleType, DoubleType),
    // UTM inverse projection (WGS84): → struct(lng, lat); null for invalid
    // zones — mirrors Utm.toLngLat (reference utm.go ToLngLat, d6·720 quirk).
    fn("st_lnglat_from_utm", UtmKernels, "toLngLat", lngLatStruct,
      DoubleType, DoubleType, IntegerType, StringType),
    // Forward map projection for any registered SRID (core/Proj.scala +
    // Projection.forSrid — the reference's Grid{Srid} CRS hook as a column):
    // (lng, lat, srid) → struct(x, y) in the CRS's native units.
    fn("st_project", ProjKernels, "project", pointStruct, DoubleType, DoubleType)
      .copy(srids = Seq("srid")),
    // Inverse projection: (x, y, srid) → struct(x = lng, y = lat).
    fn("st_project_inv", ProjKernels, "projectInv", pointStruct, DoubleType, DoubleType)
      .copy(srids = Seq("srid")),
    // Whole-geometry reprojection (WKB → WKB): the reference's `ApplyToPoints`
    // (utils.go:6-110) composed with the `Grid{Srid}` projection pair — every
    // coordinate runs inverse(fromSrid) → 4326 → forward(toSrid), ring and
    // vertex order preserved; a geometry with any coordinate that has no
    // finite image (a pole under a Mercator-family target) maps to NULL.
    fn("st_transform", ProjKernels, "transform", BinaryType, BinaryType)
      .copy(srids = Seq("fromSrid", "toSrid")),

    // ---- text analysis ----
    fn("doc_fingerprint", TextKernels, "docFingerprint", LongType, StringType),
    fn("minhash", TextKernels, "minhash", longs, StringType, IntegerType),
    fn("simhash", TextKernels, "simhash", LongType, StringType),
    // shingle fingerprint array (the minhash input set, exposed): word 3-gram
    // shingles → rolling hash each. Duplicates retained — consumers use set
    // operations (array_intersect/union) which dedupe.
    fn("shingle_hashes", TextKernels, "shingleHashes", longs, StringType),
    fn("hamming", TextKernels, "hamming", IntegerType, LongType, LongType)
  )

  /** a plan-time SRID argument of `name`: a foldable, non-null INT. */
  private def sridArg(name: String, param: String, e: Expression): Int =
    if (e.foldable && e.dataType == IntegerType && e.eval() != null) e.eval().asInstanceOf[Int]
    else throw Shim.nonFoldableArgumentError(name, param, IntegerType)

  /** `sig`'s expression over `args`: a wrong argument count or a
    * non-constant SRID fails here, at analysis, naming the function.
    */
  private def build(sig: KernelSig, args: Seq[Expression]): Expression = {
    val arity = sig.argTypes.length + sig.srids.length
    if (args.length != arity) throw Shim.wrongNumArgsError(sig.name, Seq(arity), args.length)
    if (sig.srids.isEmpty) KernelCall(sig, args)
    else {
      val (cols, srids) = args.splitAt(sig.argTypes.length)
      SridCall(sig, cols, srids.zip(sig.srids).map { case (e, p) => sridArg(sig.name, p, e) })
    }
  }

  private val byName: Map[String, KernelSig] = table.map(s => s.name -> s).toMap

  private def call(name: String, args: Column*): Column =
    Shim.column(build(byName(name), args.map(Shim.expression)))

  /** an INT literal that is foldable before analysis (a plan-time SRID) */
  private def sridLit(v: Int): Column = Shim.column(Literal(v))

  /** Every function, by SQL name, with its builder. */
  private[graft] val registry: Seq[(String, Seq[Expression] => Expression)] =
    table.map(sig => sig.name -> (build(sig, _: Seq[Expression])))

  /** Registers every function with the session's function registry. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registry.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  // ---- the Column API: one call into the table each ----

  def st_geomfromwkt(text: Column): Column = call("st_geomfromwkt", text)
  def st_aswkt(geo: Column): Column = call("st_aswkt", geo)
  def st_asgeojson(geo: Column): Column = call("st_asgeojson", geo)
  def st_geomfromgeojson(text: Column): Column = call("st_geomfromgeojson", text)
  def st_point(x: Column, y: Column): Column = call("st_point", x, y)
  def st_box_polygon(minx: Column, miny: Column, maxx: Column, maxy: Column): Column =
    call("st_box_polygon", minx, miny, maxx, maxy)
  def st_x(geo: Column): Column = call("st_x", geo)
  def st_y(geo: Column): Column = call("st_y", geo)
  def st_geomtype(geo: Column): Column = call("st_geomtype", geo)
  def st_envelope(geo: Column): Column = call("st_envelope", geo)
  def st_dump_points(geo: Column): Column = call("st_dump_points", geo)
  def st_segments(geo: Column): Column = call("st_segments", geo)
  def st_num_points(geo: Column): Column = call("st_num_points", geo)

  def st_contains(geo: Column, x: Column, y: Column): Column = call("st_contains", geo, x, y)
  def st_ring_contains(geo: Column, x: Column, y: Column, includeBorder: Column): Column =
    call("st_ring_contains", geo, x, y, includeBorder)

  def st_cell_at(lon: Column, lat: Column, z: Column): Column = call("st_cell_at", lon, lat, z)
  def st_lon2tile(lon: Column, z: Column): Column = call("st_lon2tile", lon, z)
  def st_lat2tile(lat: Column, z: Column): Column = call("st_lat2tile", lat, z)
  def st_tile2lon(z: Column, x: Column): Column = call("st_tile2lon", z, x)
  def st_tile2lat(z: Column, y: Column): Column = call("st_tile2lat", z, y)
  def st_cell_z(cell: Column): Column = call("st_cell_z", cell)
  def st_cell_x(cell: Column): Column = call("st_cell_x", cell)
  def st_cell_y(cell: Column): Column = call("st_cell_y", cell)
  def st_family_at(cell: Column, zoom: Column): Column = call("st_family_at", cell, zoom)
  def st_tiles_for_bounds(minLon: Column, minLat: Column, maxLon: Column,
                          maxLat: Column, z: Column): Column =
    call("st_tiles_for_bounds", minLon, minLat, maxLon, maxLat, z)
  def st_tiles_for_bounds_3857(minX: Column, minY: Column, maxX: Column,
                               maxY: Column, z: Column): Column =
    call("st_tiles_for_bounds_3857", minX, minY, maxX, maxY, z)
  def st_cover_zoom(minLon: Column, minLat: Column, maxLon: Column,
                    maxLat: Column, zmax: Column, cap: Column): Column =
    call("st_cover_zoom", minLon, minLat, maxLon, maxLat, zmax, cap)
  def st_cover_at_levels(minLon: Column, minLat: Column, maxLon: Column,
                         maxLat: Column, levels: Column): Column =
    call("st_cover_at_levels", minLon, minLat, maxLon, maxLat, levels)
  def st_tile_envelope(cell: Column): Column = call("st_tile_envelope", cell)
  def st_tile_extent_3857(z: Column, x: Column, y: Column): Column =
    call("st_tile_extent_3857", z, x, y)

  def st_simplify(geo: Column, tol: Column): Column = call("st_simplify", geo, tol)
  def st_clip(geo: Column, minx: Column, miny: Column, maxx: Column, maxy: Column): Column =
    call("st_clip", geo, minx, miny, maxx, maxy)
  def st_makevalid(geo: Column, minx: Column, miny: Column, maxx: Column, maxy: Column): Column =
    call("st_makevalid", geo, minx, miny, maxx, maxy)
  def st_winding(geo: Column): Column = call("st_winding", geo)
  def st_rectify_polygon(geo: Column): Column = call("st_rectify_polygon", geo)
  def st_centroid_ref(geo: Column): Column = call("st_centroid_ref", geo)

  def st_prepare_tile(geo: Column, cell: Column): Column = call("st_prepare_tile", geo, cell)
  def st_prepare_extent(geo: Column, minx: Column, miny: Column,
                        maxx: Column, maxy: Column): Column =
    call("st_prepare_extent", geo, minx, miny, maxx, maxy)
  def st_mvt_geometry(geo: Column): Column = call("st_mvt_geometry", geo)
  def st_mvt_pipeline(geo: Column, z: Column, x: Column, y: Column): Column =
    call("st_mvt_pipeline", geo, z, x, y)

  def st_perpendicular_distance(x1: Column, y1: Column, x2: Column, y2: Column,
                                px: Column, py: Column): Column =
    call("st_perpendicular_distance", x1, y1, x2, y2, px, py)
  def st_distance_to_segment(x1: Column, y1: Column, x2: Column, y2: Column,
                             px: Column, py: Column): Column =
    call("st_distance_to_segment", x1, y1, x2, y2, px, py)
  def st_seg_intersect(x1: Column, y1: Column, x2: Column, y2: Column,
                       x3: Column, y3: Column, x4: Column, y4: Column): Column =
    call("st_seg_intersect", x1, y1, x2, y2, x3, y3, x4, y4)
  def st_orient(x1: Column, y1: Column, x2: Column, y2: Column,
                x3: Column, y3: Column): Column =
    call("st_orient", x1, y1, x2, y2, x3, y3)

  def st_utm_from_lnglat(lng: Column, lat: Column): Column = call("st_utm_from_lnglat", lng, lat)
  def st_lnglat_from_utm(northing: Column, easting: Column,
                         zoneNumber: Column, zoneLetter: Column): Column =
    call("st_lnglat_from_utm", northing, easting, zoneNumber, zoneLetter)
  def st_project(lng: Column, lat: Column, srid: Int): Column =
    call("st_project", lng, lat, sridLit(srid))
  def st_project_inv(x: Column, y: Column, srid: Int): Column =
    call("st_project_inv", x, y, sridLit(srid))
  def st_transform(geo: Column, fromSrid: Int, toSrid: Int): Column =
    call("st_transform", geo, sridLit(fromSrid), sridLit(toSrid))

  def doc_fingerprint(text: Column): Column = call("doc_fingerprint", text)
  def minhash(text: Column, numPerms: Column): Column = call("minhash", text, numPerms)
  def simhash(text: Column): Column = call("simhash", text)
  def shingle_hashes(text: Column): Column = call("shingle_hashes", text)
  def hamming(a: Column, b: Column): Column = call("hamming", a, b)
}
