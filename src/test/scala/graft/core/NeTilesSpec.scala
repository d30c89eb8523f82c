package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Geom._

/** Composed-pipeline regression corpus over the reference's natural-earth
  * geometries (/root/reference/testing/natural_earth_gen.go — 70 real
  * 3857-meter MultiPolygons: admin-0 countries, parks, lakes, ice
  * shelves).
  *
  * The reference's own tile corpus (testing/ne_tiles.go Tiles():
  * _ne_6_43_21 / _ne_8_42_98) cannot be used: the data files
  * testing/ne_6_43_21.go and ne_8_42_98.go are large blobs STRIPPED from
  * this checkout (.MISSING_LARGE_BLOBS) — no goldens exist to compare
  * against. This suite therefore drives the same composed flow the tiles
  * exercise — tile extent → 1px clip region → DP simplify → makevalid →
  * PrepareGeo → MVT command encode — over the natural-earth geometries
  * that ARE present, asserting structural invariants per output (command
  * stream decodes, polygon typing, ring sizes) plus a pinned corpus hash
  * as the regression value.
  *
  * Geometries are parsed from the Go literal source at test time (the
  * reference mount is read-only); the suite cancels if the mount is
  * absent.
  */
class NeTilesSpec extends AnyFunSuite {

  private val GenFile = "/root/reference/testing/natural_earth_gen.go"

  // ---- Go composite-literal parser ({{x, y}, ...} nesting) ----

  private def parseNested(s: String, start: Int): (Any, Int) = {
    require(s.charAt(start) == '{', s"expected {{ at $start")
    var i = start + 1
    while (s.charAt(i) == ' ') i += 1
    if (s.charAt(i) == '{') {
      val out = Vector.newBuilder[Any]
      while (s.charAt(i) != '}') {
        val (v, ni) = parseNested(s, i)
        out += v
        i = ni
        while (s.charAt(i) == ' ' || s.charAt(i) == ',') i += 1
      }
      (out.result(), i + 1)
    } else {
      val comma = s.indexOf(',', i)
      val close = s.indexOf('}', comma)
      val x = s.substring(i, comma).trim.toDouble
      val y = s.substring(comma + 1, close).trim.toDouble
      ((x, y), close + 1)
    }
  }

  /** engine convention (Geom.scala): rings stored UNCLOSED — the gen.go
    * literals carry the closing point, which wkt.DecodeString (the entry
    * the reference's CompileTiles uses) strips.
    */
  private def unclose(r: Vector[Pt]): Vector[Pt] =
    if (r.length >= 2 && r.head == r.last) r.dropRight(1) else r

  private def parseMultiPolygon(body: String): GMultiPolygon = {
    val (v, _) = parseNested(body, 0)
    val polys = v.asInstanceOf[Vector[Any]].map { p =>
      p.asInstanceOf[Vector[Any]].map { r =>
        unclose(r.asInstanceOf[Vector[Any]].map(_.asInstanceOf[Pt]))
      }
    }
    GMultiPolygon(polys)
  }

  private def parseMultiLineString(body: String): GMultiLineString = {
    val (v, _) = parseNested(body, 0)
    val lines = v.asInstanceOf[Vector[Any]].map { l =>
      l.asInstanceOf[Vector[Any]].map(_.asInstanceOf[Pt])
    }
    GMultiLineString(lines)
  }

  /** 40 MultiPolygons (countries/parks/lakes/ice) + 30 MultiLineStrings
    * (roads/coastlines/rivers) — the lines drive the pipeline's clip
    * branch, the polygons its makevalid branch.
    */
  private lazy val corpus: IndexedSeq[(String, Geometry)] = {
    val f = new java.io.File(GenFile)
    assume(f.exists, s"reference mount absent: $GenFile")
    val reMp = """^var (_ne_\w+) = geom\.MultiPolygon(\{.*\})$""".r
    val reMl = """^var (_ne_\w+) = geom\.MultiLineString(\{.*\})$""".r
    val src = scala.io.Source.fromFile(f)
    try {
      src.getLines().collect {
        case reMp(name, body) => (name, parseMultiPolygon(body))
        case reMl(name, body) => (name, parseMultiLineString(body))
      }.toIndexedSeq
    } finally src.close()
  }

  /** the fused tile pipeline (the st_mvt_pipeline kernel body) on a raw geometry. */
  private def pipeline(g: Geometry, z: Int, x: Int, y: Int): Option[(IndexedSeq[Long], Int)] = {
    val ext = Slippy.tileExtent3857(z, x, y)
    val webs = (ext.maxx - ext.minx) / 4096.0
    val simp = Simplify.geometry(g, webs)
    val clip = Extent(ext.minx - webs, ext.miny - webs, ext.maxx + webs, ext.maxy + webs)
    MakeValid.geometry(simp, Some(clip)).map { fixed =>
      Mvt.encodeGeometry(Mvt.prepareGeo(fixed, ext))
    }
  }

  test("corpus parses: 40 multipolygons + 30 multilinestrings") {
    assert(corpus.length == 70, s"expected 70 vars, got ${corpus.length}")
    assert(corpus.count(_._2.isInstanceOf[GMultiPolygon]) == 40)
    assert(corpus.count(_._2.isInstanceOf[GMultiLineString]) == 30)
    corpus.foreach { case (name, g) =>
      val pts = Geom.coordinates(g)
      assert(pts.nonEmpty, name)
      pts.foreach { case (px, py) =>
        assert(math.abs(px) < 1e8 && math.abs(py) < 1e8, s"$name out of range: ($px, $py)")
      }
      g match {
        case GMultiPolygon(polys) =>
          polys.foreach(_.foreach(r => assert(r.length >= 3, s"$name short ring")))
        case _ =>
      }
    }
  }

  test("composed tile pipeline over the natural-earth corpus: invariants + pinned hash") {
    val M = 1000000000000007L
    var hash = 0L
    var tiles = 0
    var nonEmpty = 0
    var totalCmds = 0L
    corpus.foreach { case (name, g) =>
      val ext = Extent.ofGeometry(g).get
      // cover with z6 tiles; cap per geometry so continent-scale shapes
      // don't explode the suite. The cap picks EVENLY-SPREAD cover tiles
      // (a bbox-corner prefix mostly misses the geometry) — deterministic,
      // and noted per the no-silent-caps rule.
      val cover6 = TileGrid.WebMercator.fromBounds(6, ext.minx, ext.miny, ext.maxx, ext.maxy)
      // plus a z8 slice (16x smaller tiles: heavier clipping per feature)
      val cover8 = TileGrid.WebMercator.fromBounds(8, ext.minx, ext.miny, ext.maxx, ext.maxy)
      def spread(cover: IndexedSeq[Long], k: Int): IndexedSeq[Long] =
        if (cover.length <= k) cover
        else (0 until k).map(j => cover(j * (cover.length - 1) / (k - 1))).distinct
      val chosen = spread(cover6, 8) ++ spread(cover8, 4)
      chosen.foreach { cell =>
        val z = Slippy.unpackZ(cell)
        val x = Slippy.unpackX(cell).toInt
        val y = Slippy.unpackY(cell).toInt
        tiles += 1
        val expectType = if (g.isInstanceOf[GMultiPolygon]) 3 else 2
        pipeline(g, z, x, y) match {
          case Some((cmds, tpe)) =>
            assert(tpe == expectType, s"$name $z/$x/$y type $tpe")
            totalCmds += cmds.length
            if (cmds.nonEmpty) {
              nonEmpty += 1
              // the command stream must decode back into geometry the
              // decoder accepts — i.e. well-formed MVT commands
              val dec = Mvt.decodeGeometry(tpe, cmds)
              assert(dec.isRight, s"$name $z/$x/$y: ${dec.left.getOrElse("")}")
            }
            cmds.foreach { c => hash = (hash * 31 + c) % M }
          case None => // clipped away entirely: legal
        }
        hash = (hash * 31 + 17) % M // tile separator
      }
    }
    assert(tiles == 431, s"covered tiles changed: $tiles")
    assert(nonEmpty == 246, s"non-empty outputs changed: $nonEmpty")
    // REGRESSION PIN (computed from this implementation, asserted stable
    // across rounds — there is no reference golden for these, see header)
    assert(totalCmds == 36891L, s"total commands changed: $totalCmds")
    assert(hash == 775976553519988L, s"corpus hash changed: $hash")
  }

  test("fused kernel parity: WKB round-trip through the corpus pipeline") {
    // the same flow driven through the WKB kernel entry (one decode, the
    // production path of st_mvt_pipeline) must agree with the direct calls
    val (name, g) = corpus(11) // a parks polygon: mid-sized
    val ext = Extent.ofGeometry(g).get
    val cell = TileGrid.WebMercator.fromBounds(6, ext.minx, ext.miny, ext.maxx, ext.maxy).head
    val z = Slippy.unpackZ(cell); val x = Slippy.unpackX(cell).toInt; val y = Slippy.unpackY(cell).toInt
    val direct = pipeline(g, z, x, y)
    val viaWkb = pipeline(Wkb.decode(Wkb.encode(g)), z, x, y)
    assert(direct == viaWkb, s"$name WKB round-trip diverged")
  }
}
