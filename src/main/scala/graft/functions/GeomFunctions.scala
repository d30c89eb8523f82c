package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.Shim

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

  /** Every function, by SQL name — one registry entry each. */
  private[graft] val registry: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "st_geomfromwkt" -> (a => StGeomFromWkt(a(0))),
    "st_aswkt" -> (a => StAsWkt(a(0))),
    "st_point" -> (a => StPoint(a(0), a(1))),
    "st_box_polygon" -> (a => StBoxPolygon(a(0), a(1), a(2), a(3))),
    "st_x" -> (a => StX(a(0))),
    "st_y" -> (a => StY(a(0))),
    "st_geomtype" -> (a => StGeomType(a(0))),
    "st_envelope" -> (a => StEnvelope(a(0))),
    "st_dump_points" -> (a => StDumpPoints(a(0))),
    "st_segments" -> (a => StSegmentsOf(a(0))),
    "st_num_points" -> (a => StNumPoints(a(0))),
    "st_contains" -> (a => StContains(a(0), a(1), a(2))),
    "st_ring_contains" -> (a => StRingContains(a(0), a(1), a(2), a(3))),
    "st_cell_at" -> (a => StCellAt(a(0), a(1), a(2))),
    "st_lon2tile" -> (a => StLon2Tile(a(0), a(1))),
    "st_lat2tile" -> (a => StLat2Tile(a(0), a(1))),
    "st_tile2lon" -> (a => StTile2Lon(a(0), a(1))),
    "st_tile2lat" -> (a => StTile2Lat(a(0), a(1))),
    "st_cell_z" -> (a => StCellZ(a(0))),
    "st_cell_x" -> (a => StCellX(a(0))),
    "st_cell_y" -> (a => StCellY(a(0))),
    "st_family_at" -> (a => StFamilyAt(a(0), a(1))),
    "st_tiles_for_bounds" -> (a => StTilesForBounds(a(0), a(1), a(2), a(3), a(4))),
    "st_tiles_for_bounds_3857" -> (a => StTilesForBounds3857(a(0), a(1), a(2), a(3), a(4))),
    "st_tile_envelope" -> (a => StTileEnvelope(a(0))),
    "st_cover_zoom" -> (a => StCoverZoom(a(0), a(1), a(2), a(3), a(4), a(5))),
    "st_cover_at_levels" -> (a => StCoverAtLevels(a(0), a(1), a(2), a(3), a(4))),
    "st_simplify" -> (a => StSimplify(a(0), a(1))),
    "st_clip" -> (a => StClip(a(0), a(1), a(2), a(3), a(4))),
    "st_winding" -> (a => StWinding(a(0))),
    "st_rectify_polygon" -> (a => StRectifyPolygon(a(0))),
    "st_centroid_ref" -> (a => StCentroidRef(a(0))),
    "st_perpendicular_distance" ->
      (a => StPerpendicularDistance(a(0), a(1), a(2), a(3), a(4), a(5))),
    "st_distance_to_segment" ->
      (a => StDistanceToSegment(a(0), a(1), a(2), a(3), a(4), a(5))),
    "st_seg_intersect" ->
      (a => StSegIntersect(a(0), a(1), a(2), a(3), a(4), a(5), a(6), a(7))),
    "st_orient" -> (a => StOrient(a(0), a(1), a(2), a(3), a(4), a(5))),
    "st_makevalid" -> (a => StMakeValid(a(0), a(1), a(2), a(3), a(4))),
    "st_prepare_tile" -> (a => StPrepareTile(a(0), a(1))),
    "st_tile_extent_3857" -> (a => StTileExtent3857(a(0), a(1), a(2))),
    "st_prepare_extent" -> (a => StPrepareExtent(a(0), a(1), a(2), a(3), a(4))),
    "st_mvt_geometry" -> (a => StMvtGeometry(a(0))),
    "st_mvt_pipeline" -> (a => StMvtPipeline(a(0), a(1), a(2), a(3))),
    "st_asgeojson" -> (a => StAsGeoJson(a(0))),
    "st_geomfromgeojson" -> (a => StGeomFromGeoJson(a(0))),
    "st_utm_from_lnglat" -> (a => StUtmFromLngLat(a(0), a(1))),
    "st_lnglat_from_utm" -> (a => StLngLatFromUtm(a(0), a(1), a(2), a(3))),
    // SQL form: srid is a foldable integer literal (plan-time constant)
    "st_project" -> (a => StProject(a(0), a(1),
      a(2).eval().asInstanceOf[Number].intValue())),
    "st_project_inv" -> (a => StProjectInv(a(0), a(1),
      a(2).eval().asInstanceOf[Number].intValue())),
    "st_transform" -> (a => StTransform(a(0),
      a(1).eval().asInstanceOf[Number].intValue(),
      a(2).eval().asInstanceOf[Number].intValue())),
    "doc_fingerprint" -> (a => StFingerprint(a(0))),
    "minhash" -> (a => StMinHash(a(0), a(1))),
    "simhash" -> (a => StSimHash(a(0))),
    "shingle_hashes" -> (a => StShingleHashes(a(0))),
    "hamming" -> (a => StHamming(a(0), a(1)))
  )

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registry.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
