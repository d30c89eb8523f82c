package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.GeomFunctions._

/** Tiler: assigns geometries to the slippy tiles they overlap
  * (reference slippy.FromBounds over the geometry envelope,
  * tile.go:111-145), encodes MVT tiles and rasterizes points.
  *
  * Scale shape: envelope + tile explosion are per-row expressions (no
  * shuffle); the groupBy(tile) / repartition(tile) shuffles on the packed
  * long cell id, which also sorts in (z, x, y) reference order.
  */
object Tiler {

  /** A tiling grid: the packed cells covering an envelope (minx, miny,
    * maxx, maxy, z) and the extent of a packed cell, both in the grid's
    * own units.
    */
  private final case class Grid(cover: (Column, Column, Column, Column, Column) => Column,
                                extent: Column => Column)

  /** the grid of `srid`: 4326 (lon/lat degrees, the docs pipeline) or 3857
    * (web-mercator meters). Any other SRID is rejected, not tiled on a
    * grid whose units it does not share.
    */
  private def grid(srid: Int): Grid = {
    require(srid == 4326 || srid == 3857, s"tiler grids are SRID 4326 and 3857, not $srid")
    if (srid == 4326) Grid(st_tiles_for_bounds, st_tile_envelope)
    else Grid(st_tiles_for_bounds_3857,
      c => st_tile_extent_3857(st_cell_z(c), st_cell_x(c), st_cell_y(c)))
  }

  /** the explode of the `env` envelope's cover at zoom z: one row per
    * cell. No env-isNotNull filter: the cover is null-intolerant, so
    * explode() already drops a null envelope, and such a filter made
    * Catalyst evaluate the whole upstream geometry expression TWICE per
    * row (round 7, measured).
    */
  private def cover(g: Grid, z: Int): Column =
    explode(g.cover(col("env.minx"), col("env.miny"), col("env.maxx"), col("env.maxy"), lit(z)))

  /** geometries(id, geom WKB) → one row per (id, cell) covering the
    * geometry envelope at zoom z on the grid of `srid` (4326 or 3857).
    */
  def assignTiles(geoms: DataFrame, idCol: String, z: Int, srid: Int = 4326): DataFrame =
    geoms.withColumn("env", st_envelope(col("geom")))
      .select(col(idCol), cover(grid(srid), z).as("cell"))

  /** the sink's map side, all per-row expressions and no shuffle: the
    * cover explode carries the geometry column (joining assignTiles back
    * to the geometries evaluates the input twice and shuffles it), then
    * tile-space projection against the cell's extent and the command-
    * stream encode. Emits (…, cell, mvt struct).
    */
  private def mvtPrep(geoms: DataFrame, z: Int, g: Grid): DataFrame =
    geoms
      .withColumn("env", st_envelope(col("geom")))
      .withColumn("cell", cover(g, z))
      .withColumn("te", g.extent(col("cell")))
      .withColumn("prep", st_prepare_extent(col("geom"),
        col("te.minx"), col("te.miny"), col("te.maxx"), col("te.maxy")))
      .withColumn("mvt", st_mvt_geometry(col("prep")))

  /** The MVT tile sink: geometries → (z, x, y, mvt protobuf bytes), one
    * tile per covered cell holding one layer per distinct `layer` value
    * (reference tile.go:45-63: a Tile holds repeated Layer messages). A
    * single-layer caller passes `lit(name)`: a constant layer is read from
    * the argument, not carried through the shuffle as a column.
    *
    * After the map-side [[mvtPrep]], ONE shuffle on the packed cell into
    * one partition per core (the session's default parallelism) and an
    * in-partition sort by (cell, layer, fid): a forward walk per partition
    * emits one tile per cell run, streams each layer run through the layer
    * encoder and frames the finished layers in layer-name order. The width
    * is explicit because the walk and encode are CPU-bound while the
    * exchange is small: AQE coalesced a `repartition(cell)` of the ×1
    * `tile` input (~2 MB) into ONE partition, and the whole encode ran on
    * one task. The bytes are a pure function of the input (re-runs and
    * micro-batch replays are byte-identical), per-tile memory stays
    * bounded at the output bytes plus one layer's key/value maps (never
    * the feature list), and the sort spills where a hash group could not.
    *
    * Tags: "fid" (the id as a string) first, then each of `propCols` as a
    * typed value (MvtTile.TagValue.of per the Spark column type, reference
    * layer.go:133-190); a NULL property is dropped per feature like the
    * reference drops nil tags. Feature ids count from 1 within each layer.
    */
  def mvtTiles(spark: SparkSession, geoms: DataFrame, idCol: String, z: Int,
               layer: Column, srid: Int = 4326, propCols: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    import graft.core.{MvtTile, Slippy}
    val propNames = propCols.toIndexedSeq
    // a foldable layer is one name for every row: no layer column
    val layerExpr = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(layer)
    val constLayer: Option[String] =
      if (!layerExpr.foldable) None
      else Option(Cast(layerExpr, StringType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval()).map(_.toString)
    val layerKey = if (constLayer.isDefined) Nil else Seq("layer")
    val fidAt = 1 + layerKey.length // row: cell, [layer], fid, commands, gtype, props
    val nFixed = fidAt + 3
    mvtPrep(geoms, z, grid(srid))
      .select(Seq(col("cell")) ++ layerKey.map(layer.cast("string").as(_)) ++
        Seq(col(idCol).cast("string").as("fid"),
          col("mvt.commands").as("commands"), col("mvt.geom_type").as("gtype")) ++
        propCols.map(col): _*)
      .repartition(spark.sparkContext.defaultParallelism, col("cell"))
      .sortWithinPartitions((Seq("cell") ++ layerKey :+ "fid").map(col): _*)
      .mapPartitions { it =>
        val buf = it.buffered
        def layerOf(r: org.apache.spark.sql.Row): String = constLayer.getOrElse(r.getString(1))
        new Iterator[(Int, Long, Long, Array[Byte])] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Int, Long, Long, Array[Byte]) = {
            val cell = buf.head.getLong(0)
            val layers = Vector.newBuilder[Array[Byte]]
            while (buf.hasNext && buf.head.getLong(0) == cell) {
              val name = layerOf(buf.head)
              var i = 0L
              val features = new Iterator[MvtTile.Feature] {
                def hasNext: Boolean = buf.hasNext &&
                  buf.head.getLong(0) == cell && layerOf(buf.head) == name
                def next(): MvtTile.Feature = {
                  val r = buf.next()
                  i += 1
                  // zero-copy: the row holds the command longs in a primitive
                  // array (ArraySeq.ofLong) — rewrap instead of boxing a copy
                  val cmds: IndexedSeq[Long] = r.getSeq[Long](fidAt + 1) match {
                    case as: scala.collection.immutable.ArraySeq[Long] => as
                    case other => other.toIndexedSeq
                  }
                  val props = Vector.newBuilder[(String, MvtTile.TagValue)]
                  props += (("fid", MvtTile.TagValue.VString(r.getString(fidAt))))
                  var p = 0
                  while (p < propNames.length) {
                    val v = r.get(nFixed + p)
                    if (v != null) props += ((propNames(p), MvtTile.TagValue.of(v)))
                    p += 1
                  }
                  MvtTile.Feature(i, r.getInt(fidAt + 2), cmds, props.result())
                }
              }
              layers += MvtTile.encodeLayerStream(name, features)
            }
            val bytes = MvtTile.encodeTileFromLayerBytes(layers.result())
            (Slippy.unpackZ(cell), Slippy.unpackX(cell), Slippy.unpackY(cell), bytes)
          }
        }
      }
      .toDF("z", "x", "y", "mvt")
  }

  /** Rasterize: points → per-tile pixel occupancy at `res`×`res` pixels per
    * z-tile. Pixel math is the slippy projection carried 8 more zoom levels
    * (res=256 ⇒ a z pixel IS a z+8 tile), so the whole stage is the same
    * map-only vectorized cell encode as tile assignment — no shuffle until
    * the occupancy groupBy on (cell, py, px).
    */
  def rasterizePoints(pts: DataFrame, z: Int, res: Int = 256): DataFrame = {
    require(res > 0 && (res & (res - 1)) == 0, "res must be a power of two")
    val extraZ = (math.log(res.toDouble) / math.log(2.0)).round.toInt
    val fine = st_cell_at(col("lon"), col("lat"), lit(z + extraZ))
    pts
      .withColumn("cell", st_cell_at(col("lon"), col("lat"), lit(z)))
      .withColumn("px", (st_cell_x(fine) - st_cell_x(col("cell")) * res).cast("int"))
      .withColumn("py", (st_cell_y(fine) - st_cell_y(col("cell")) * res).cast("int"))
      .groupBy(col("cell"), col("py"), col("px"))
      .agg(count(lit(1)).as("n"))
  }

  /** Horizontal runs: merge adjacent occupied pixels of
    * one tile row into [px0, px1] spans (gaps-and-islands: px − row_number
    * is constant within a run). One window + one groupBy, both on the
    * (cell, py) key — integer arithmetic, exactly mirrorable in SQL.
    */
  def rasterRuns(raster: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"), col("py")).orderBy(col("px").asc)
    raster
      .withColumn("isl", col("px") - row_number().over(w))
      .groupBy(col("cell"), col("py"), col("isl"))
      .agg(min(col("px")).as("px0"), max(col("px")).as("px1"),
        sum(col("n")).as("n_pts"))
      .drop("isl")
  }
}
