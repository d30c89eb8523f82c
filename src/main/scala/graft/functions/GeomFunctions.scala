package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.IntegerType

/** Column API + SQL registration for the engine's Catalyst expressions.
  *
  * `GeomFunctions.register(spark)` makes every function callable from SQL
  * (`SELECT st_cell_at(lon, lat, 15) ...`); the `st_*` Scala methods build
  * Columns directly for the DataFrame API.
  */
object GeomFunctions {

  private def col(e: Expression): Column = Shim.column(e)
  private def ex(c: Column): Expression = Shim.expression(c)

  // codecs / constructors
  def st_geomfromwkt(text: Column): Column = col(StGeomFromWkt(ex(text)))
  def st_aswkt(geo: Column): Column = col(StAsWkt(ex(geo)))
  def st_point(x: Column, y: Column): Column = col(StPoint(ex(x), ex(y)))
  def st_box_polygon(minx: Column, miny: Column, maxx: Column, maxy: Column): Column =
    col(StBoxPolygon(ex(minx), ex(miny), ex(maxx), ex(maxy)))
  def st_x(geo: Column): Column = col(StX(ex(geo)))
  def st_y(geo: Column): Column = col(StY(ex(geo)))
  def st_geomtype(geo: Column): Column = col(StGeomType(ex(geo)))
  def st_envelope(geo: Column): Column = col(StEnvelope(ex(geo)))
  def st_dump_points(geo: Column): Column = col(StDumpPoints(ex(geo)))
  def st_segments(geo: Column): Column = col(StSegmentsOf(ex(geo)))
  def st_num_points(geo: Column): Column = col(StNumPoints(ex(geo)))

  // predicates
  def st_contains(geo: Column, x: Column, y: Column): Column =
    col(StContains(ex(geo), ex(x), ex(y)))
  def st_ring_contains(geo: Column, x: Column, y: Column, includeBorder: Column): Column =
    col(StRingContains(ex(geo), ex(x), ex(y), ex(includeBorder)))

  // slippy tiles
  def st_cell_at(lon: Column, lat: Column, z: Column): Column =
    col(StCellAt(ex(lon), ex(lat), ex(z)))
  def st_lon2tile(lon: Column, z: Column): Column = col(StLon2Tile(ex(lon), ex(z)))
  def st_lat2tile(lat: Column, z: Column): Column = col(StLat2Tile(ex(lat), ex(z)))
  def st_tile2lon(z: Column, x: Column): Column = col(StTile2Lon(ex(z), ex(x)))
  def st_tile2lat(z: Column, y: Column): Column = col(StTile2Lat(ex(z), ex(y)))
  def st_cell_z(cell: Column): Column = col(StCellZ(ex(cell)))
  def st_cell_x(cell: Column): Column = col(StCellX(ex(cell)))
  def st_cell_y(cell: Column): Column = col(StCellY(ex(cell)))
  def st_family_at(cell: Column, zoom: Column): Column = col(StFamilyAt(ex(cell), ex(zoom)))
  def st_tiles_for_bounds(minLon: Column, minLat: Column, maxLon: Column,
                          maxLat: Column, z: Column): Column =
    col(StTilesForBounds(ex(minLon), ex(minLat), ex(maxLon), ex(maxLat), ex(z)))
  def st_tile_envelope(cell: Column): Column = col(StTileEnvelope(ex(cell)))
  def st_cover_zoom(minLon: Column, minLat: Column, maxLon: Column,
                    maxLat: Column, zmax: Column, cap: Column): Column =
    col(StCoverZoom(ex(minLon), ex(minLat), ex(maxLon), ex(maxLat), ex(zmax), ex(cap)))
  def st_cover_at_levels(minLon: Column, minLat: Column, maxLon: Column,
                         maxLat: Column, levels: Column): Column =
    col(StCoverAtLevels(ex(minLon), ex(minLat), ex(maxLon), ex(maxLat), ex(levels)))
  def st_tiles_for_bounds_3857(minX: Column, minY: Column, maxX: Column,
                               maxY: Column, z: Column): Column =
    col(StTilesForBounds3857(ex(minX), ex(minY), ex(maxX), ex(maxY), ex(z)))

  // transforms
  def st_simplify(geo: Column, tol: Column): Column = col(StSimplify(ex(geo), ex(tol)))
  def st_clip(geo: Column, minx: Column, miny: Column, maxx: Column, maxy: Column): Column =
    col(StClip(ex(geo), ex(minx), ex(miny), ex(maxx), ex(maxy)))
  def st_winding(geo: Column): Column = col(StWinding(ex(geo)))
  def st_rectify_polygon(geo: Column): Column = col(StRectifyPolygon(ex(geo)))
  def st_centroid_ref(geo: Column): Column = col(StCentroidRef(ex(geo)))

  // planar scalar math
  def st_perpendicular_distance(x1: Column, y1: Column, x2: Column, y2: Column,
                                px: Column, py: Column): Column =
    col(StPerpendicularDistance(ex(x1), ex(y1), ex(x2), ex(y2), ex(px), ex(py)))
  def st_distance_to_segment(x1: Column, y1: Column, x2: Column, y2: Column,
                             px: Column, py: Column): Column =
    col(StDistanceToSegment(ex(x1), ex(y1), ex(x2), ex(y2), ex(px), ex(py)))
  def st_seg_intersect(x1: Column, y1: Column, x2: Column, y2: Column,
                       x3: Column, y3: Column, x4: Column, y4: Column): Column =
    col(StSegIntersect(ex(x1), ex(y1), ex(x2), ex(y2), ex(x3), ex(y3), ex(x4), ex(y4)))
  def st_orient(x1: Column, y1: Column, x2: Column, y2: Column,
                x3: Column, y3: Column): Column =
    col(StOrient(ex(x1), ex(y1), ex(x2), ex(y2), ex(x3), ex(y3)))

  def st_makevalid(geo: Column, minx: Column, miny: Column, maxx: Column, maxy: Column): Column =
    col(StMakeValid(ex(geo), ex(minx), ex(miny), ex(maxx), ex(maxy)))
  def st_prepare_tile(geo: Column, cell: Column): Column = col(StPrepareTile(ex(geo), ex(cell)))
  def st_tile_extent_3857(z: Column, x: Column, y: Column): Column =
    col(StTileExtent3857(ex(z), ex(x), ex(y)))
  def st_prepare_extent(geo: Column, minx: Column, miny: Column,
                        maxx: Column, maxy: Column): Column =
    col(StPrepareExtent(ex(geo), ex(minx), ex(miny), ex(maxx), ex(maxy)))
  def st_mvt_geometry(geo: Column): Column = col(StMvtGeometry(ex(geo)))
  def st_mvt_pipeline(geo: Column, z: Column, x: Column, y: Column): Column =
    col(StMvtPipeline(ex(geo), ex(z), ex(x), ex(y)))
  def st_asgeojson(geo: Column): Column = col(StAsGeoJson(ex(geo)))
  def st_geomfromgeojson(text: Column): Column = col(StGeomFromGeoJson(ex(text)))

  def st_utm_from_lnglat(lng: Column, lat: Column): Column =
    col(StUtmFromLngLat(ex(lng), ex(lat)))
  def st_lnglat_from_utm(northing: Column, easting: Column,
                         zoneNumber: Column, zoneLetter: Column): Column =
    col(StLngLatFromUtm(ex(northing), ex(easting), ex(zoneNumber), ex(zoneLetter)))
  /** forward projection to any registered SRID (core/Proj.scala). */
  def st_project(lng: Column, lat: Column, srid: Int): Column =
    col(StProject(ex(lng), ex(lat), srid))
  /** inverse projection from any registered SRID. */
  def st_project_inv(x: Column, y: Column, srid: Int): Column =
    col(StProjectInv(ex(x), ex(y), srid))
  /** whole-geometry reprojection (WKB→WKB) between two registered SRIDs. */
  def st_transform(geo: Column, fromSrid: Int, toSrid: Int): Column =
    col(StTransform(ex(geo), fromSrid, toSrid))

  // text analysis
  def doc_fingerprint(text: Column): Column = col(StFingerprint(ex(text)))
  def minhash(text: Column, numPerms: Column): Column = col(StMinHash(ex(text), ex(numPerms)))
  def simhash(text: Column): Column = col(StSimHash(ex(text)))
  def shingle_hashes(text: Column): Column = col(StShingleHashes(ex(text)))
  def hamming(a: Column, b: Column): Column = col(StHamming(ex(a), ex(b)))

  private type Builder = PartialFunction[Seq[Expression], Expression]
  private def fn(name: String)(build: Builder): (String, Builder) = name -> build

  /** a plan-time SRID argument of `name`: a foldable, non-null INT. */
  private def sridArg(name: String, param: String, e: Expression): Int =
    if (e.foldable && e.dataType == IntegerType && e.eval() != null) e.eval().asInstanceOf[Int]
    else throw Shim.nonFoldableArgumentError(name, param, IntegerType)

  /** Every function, by SQL name — one registry entry each, whose pattern
    * is the function's argument list.
    */
  private[graft] val registry: Seq[(String, Builder)] = Seq(
    fn("st_geomfromwkt") { case Seq(a) => StGeomFromWkt(a) },
    fn("st_aswkt") { case Seq(a) => StAsWkt(a) },
    fn("st_point") { case Seq(a, b) => StPoint(a, b) },
    fn("st_box_polygon") { case Seq(a, b, c, d) => StBoxPolygon(a, b, c, d) },
    fn("st_x") { case Seq(a) => StX(a) },
    fn("st_y") { case Seq(a) => StY(a) },
    fn("st_geomtype") { case Seq(a) => StGeomType(a) },
    fn("st_envelope") { case Seq(a) => StEnvelope(a) },
    fn("st_dump_points") { case Seq(a) => StDumpPoints(a) },
    fn("st_segments") { case Seq(a) => StSegmentsOf(a) },
    fn("st_num_points") { case Seq(a) => StNumPoints(a) },
    fn("st_contains") { case Seq(a, b, c) => StContains(a, b, c) },
    fn("st_ring_contains") { case Seq(a, b, c, d) => StRingContains(a, b, c, d) },
    fn("st_cell_at") { case Seq(a, b, c) => StCellAt(a, b, c) },
    fn("st_lon2tile") { case Seq(a, b) => StLon2Tile(a, b) },
    fn("st_lat2tile") { case Seq(a, b) => StLat2Tile(a, b) },
    fn("st_tile2lon") { case Seq(a, b) => StTile2Lon(a, b) },
    fn("st_tile2lat") { case Seq(a, b) => StTile2Lat(a, b) },
    fn("st_cell_z") { case Seq(a) => StCellZ(a) },
    fn("st_cell_x") { case Seq(a) => StCellX(a) },
    fn("st_cell_y") { case Seq(a) => StCellY(a) },
    fn("st_family_at") { case Seq(a, b) => StFamilyAt(a, b) },
    fn("st_tiles_for_bounds") { case Seq(a, b, c, d, e) => StTilesForBounds(a, b, c, d, e) },
    fn("st_tiles_for_bounds_3857") { case Seq(a, b, c, d, e) =>
      StTilesForBounds3857(a, b, c, d, e) },
    fn("st_tile_envelope") { case Seq(a) => StTileEnvelope(a) },
    fn("st_cover_zoom") { case Seq(a, b, c, d, e, f) => StCoverZoom(a, b, c, d, e, f) },
    fn("st_cover_at_levels") { case Seq(a, b, c, d, e) => StCoverAtLevels(a, b, c, d, e) },
    fn("st_simplify") { case Seq(a, b) => StSimplify(a, b) },
    fn("st_clip") { case Seq(a, b, c, d, e) => StClip(a, b, c, d, e) },
    fn("st_winding") { case Seq(a) => StWinding(a) },
    fn("st_rectify_polygon") { case Seq(a) => StRectifyPolygon(a) },
    fn("st_centroid_ref") { case Seq(a) => StCentroidRef(a) },
    fn("st_perpendicular_distance") { case Seq(a, b, c, d, e, f) =>
      StPerpendicularDistance(a, b, c, d, e, f) },
    fn("st_distance_to_segment") { case Seq(a, b, c, d, e, f) =>
      StDistanceToSegment(a, b, c, d, e, f) },
    fn("st_seg_intersect") { case Seq(a, b, c, d, e, f, g, h) =>
      StSegIntersect(a, b, c, d, e, f, g, h) },
    fn("st_orient") { case Seq(a, b, c, d, e, f) => StOrient(a, b, c, d, e, f) },
    fn("st_makevalid") { case Seq(a, b, c, d, e) => StMakeValid(a, b, c, d, e) },
    fn("st_prepare_tile") { case Seq(a, b) => StPrepareTile(a, b) },
    fn("st_tile_extent_3857") { case Seq(a, b, c) => StTileExtent3857(a, b, c) },
    fn("st_prepare_extent") { case Seq(a, b, c, d, e) => StPrepareExtent(a, b, c, d, e) },
    fn("st_mvt_geometry") { case Seq(a) => StMvtGeometry(a) },
    fn("st_mvt_pipeline") { case Seq(a, b, c, d) => StMvtPipeline(a, b, c, d) },
    fn("st_asgeojson") { case Seq(a) => StAsGeoJson(a) },
    fn("st_geomfromgeojson") { case Seq(a) => StGeomFromGeoJson(a) },
    fn("st_utm_from_lnglat") { case Seq(a, b) => StUtmFromLngLat(a, b) },
    fn("st_lnglat_from_utm") { case Seq(a, b, c, d) => StLngLatFromUtm(a, b, c, d) },
    // the SRID is a plan-time constant: a foldable INT argument
    fn("st_project") { case Seq(a, b, srid) =>
      StProject(a, b, sridArg("st_project", "srid", srid)) },
    fn("st_project_inv") { case Seq(a, b, srid) =>
      StProjectInv(a, b, sridArg("st_project_inv", "srid", srid)) },
    fn("st_transform") { case Seq(a, from, to) =>
      StTransform(a, sridArg("st_transform", "fromSrid", from),
        sridArg("st_transform", "toSrid", to)) },
    fn("doc_fingerprint") { case Seq(a) => StFingerprint(a) },
    fn("minhash") { case Seq(a, b) => StMinHash(a, b) },
    fn("simhash") { case Seq(a) => StSimHash(a) },
    fn("shingle_hashes") { case Seq(a) => StShingleHashes(a) },
    fn("hamming") { case Seq(a, b) => StHamming(a, b) }
  )

  /** Registers every function. A call whose argument count the entry's
    * pattern does not accept fails at analysis, naming the function.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registry.foreach { case (name, build) =>
      def wrongArgs(args: Seq[Expression]): Expression = {
        // the counts the pattern accepts; st_seg_intersect's 8 is the longest
        val arities = (0 to 8).filter(n => build.isDefinedAt(Seq.fill(n)(Literal(null))))
        throw Shim.wrongNumArgsError(name, arities, args.length)
      }
      reg.createOrReplaceTempFunction(name, args => build.applyOrElse(args, wrongArgs), "built-in")
    }
  }
}
