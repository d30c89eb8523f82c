package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Geom._

/** MVT prepare/encode + GeoJSON codec semantics
  * (reference encoding/mvt/{prepare,feature}.go, encoding/geojson).
  */
class MvtGeoJsonSpec extends AnyFunSuite {

  private def P(ps: (Double, Double)*): IndexedSeq[Pt] = ps.toVector

  test("preparePt: y-flip + truncation toward zero (prepare.go:73-78)") {
    val tile = Extent(0, 0, 100, 100)
    assert(Mvt.preparePt((50, 50), tile, 4096) == (2048.0, 2048.0))
    assert(Mvt.preparePt((0, 100), tile, 4096) == (0.0, 0.0))     // top-left
    assert(Mvt.preparePt((100, 0), tile, 4096) == (4096.0, 4096.0)) // bottom-right
  }

  test("prepareLineString dedupes collapsed points and drops degenerates") {
    val tile = Extent(0, 0, 4096, 4096)
    // two input points collapse to the same pixel (both trunc to (0, 4095))
    val ls = Mvt.prepareLineString(P((0.2, 0.2), (0.7, 0.7), (100, 100)), tile, 4096)
    assert(ls == P((0, 4095), (100, 3996)))
    // all collapse ⇒ dropped
    assert(Mvt.prepareLineString(P((0.2, 0.2), (0.7, 0.7)), tile, 4096).isEmpty)
  }

  test("preparePolygon strips closing pixel and rectifies winding") {
    val tile = Extent(0, 0, 4096, 4096)
    val rings = Vector(P((0, 0), (1000, 0), (1000, 1000), (0, 1000)))
    val prep = Mvt.preparePolygon(rings, tile, 4096)
    assert(prep.length == 1)
    // exterior must be clockwise in the y-up order (prepare.go:130-134)
    assert(Winding.ofPoints(prep.head) == Winding.Clockwise)
  }

  test("zigzag + command encoding (feature.go:94-119)") {
    assert(Mvt.zigzag(0) == 0)
    assert(Mvt.zigzag(-1) == 1)
    assert(Mvt.zigzag(1) == 2)
    assert(Mvt.zigzag(-2) == 3)
    assert(Mvt.command(Mvt.CmdMoveTo, 1) == 9)   // (1 & 7) | (1 << 3)
    assert(Mvt.command(Mvt.CmdLineTo, 3) == 26)  // 2 | 24
    assert(Mvt.command(Mvt.CmdClosePath, 1) == 15)
  }

  test("encode point / linestring command streams (MVT spec examples)") {
    // MVT spec: POINT(25,17) → [9, 50, 34]
    val (pc, pt) = Mvt.encodeGeometry(GPoint((25, 17)))
    assert(pt == 1 && pc == Vector(9L, 50L, 34L))
    // MVT spec: LINESTRING (2 2, 2 10, 10 10) → [9,4,4,18,0,16,16,0]
    val (lc, lt) = Mvt.encodeGeometry(GLineString(P((2, 2), (2, 10), (10, 10))))
    assert(lt == 2 && lc == Vector(9L, 4L, 4L, 18L, 0L, 16L, 16L, 0L))
  }

  test("encode polygon enforces y-down winding after int64 truncation") {
    // MVT spec example: POLYGON (3 6, 8 12, 20 34) CW in screen coords
    val (cmds, tpe) = Mvt.encodeGeometry(GPolygon(Vector(P((3, 6), (8, 12), (20, 34)))))
    assert(tpe == 3)
    assert(cmds == Vector(9L, 6L, 12L, 18L, 10L, 12L, 24L, 44L, 15L))
  }

  test("geojson round trip all types (geojson.go ring closure rules)") {
    val geoms: Seq[Geometry] = Seq(
      GPoint((1.5, -2.5)),
      GMultiPoint(P((1, 2), (3, 4))),
      GLineString(P((0, 0), (1, 1))),
      GMultiLineString(Vector(P((0, 0), (1, 1)), P((2, 2), (3, 3)))),
      GPolygon(Vector(P((0, 0), (10, 0), (10, 10), (0, 10)), P((2, 2), (3, 2), (3, 3)))),
      GMultiPolygon(Vector(Vector(P((0, 0), (5, 0), (5, 5))))),
      GCollection(Vector(GPoint((7, 8))))
    )
    for (g <- geoms) assert(GeoJson.decode(GeoJson.encode(g)) == g, s"roundtrip $g")
  }

  test("geojson polygons closed on encode, stripped on decode") {
    val json = GeoJson.encode(GPolygon(Vector(P((0, 0), (10, 0), (10, 10)))))
    assert(json.contains("[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,0.0]"))
    val g = GeoJson.decode("""{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,0]]]}""")
    assert(g == GPolygon(Vector(P((0, 0), (10, 0), (10, 10)))))
  }

  test("geojson decode errors on garbage") {
    intercept[Exception](GeoJson.decode("""{"type":"Nope","coordinates":[]}"""))
    intercept[Exception](GeoJson.decode("""not json"""))
  }

  // ---- MVT geometry decode (decode.go:86-304) ----

  test("mvt decodeZigZag inverts zigzag (decode.go:302-304)") {
    for (v <- Seq(0L, 1L, -1L, 2L, -2L, 4095L, -4096L, 2147483647L))
      assert(Mvt.decodeZigZag(Mvt.zigzag(v)) == v.toInt, s"v=$v")
  }

  test("mvt decode point / multipoint (MVT spec examples)") {
    // POINT(25,17) ← [9, 50, 34]
    assert(Mvt.decodeGeometry(1, Vector(9L, 50L, 34L)) ==
      Right(Some(GPoint((25.0, 17.0)))))
    // MULTIPOINT(5 7, 3 2) ← [17, 10, 14, 3, 9]
    assert(Mvt.decodeGeometry(1, Vector(17L, 10L, 14L, 3L, 9L)) ==
      Right(Some(GMultiPoint(P((5, 7), (3, 2))))))
    // empty stream → nil geometry, nil error
    assert(Mvt.decodeGeometry(1, Vector.empty) == Right(None))
    // trailing junk → ErrExtraData
    assert(Mvt.decodeGeometry(1, Vector(9L, 50L, 34L, 7L)).isLeft)
  }

  test("mvt decode linestring / multilinestring (MVT spec examples)") {
    // LINESTRING(2 2, 2 10, 10 10) ← [9,4,4,18,0,16,16,0]
    assert(Mvt.decodeGeometry(2, Vector(9L, 4L, 4L, 18L, 0L, 16L, 16L, 0L)) ==
      Right(Some(GLineString(P((2, 2), (2, 10), (10, 10))))))
    // MULTILINESTRING((2 2, 2 10, 10 10),(1 1, 3 5)) — spec 4.3.5.2
    val cmds = Vector(9L, 4L, 4L, 18L, 0L, 16L, 16L, 0L, 9L, 17L, 17L, 10L, 4L, 8L)
    assert(Mvt.decodeGeometry(2, cmds) ==
      Right(Some(GMultiLineString(Vector(P((2, 2), (2, 10), (10, 10)), P((1, 1), (3, 5)))))))
    // LineTo before MoveTo is invalid
    assert(Mvt.decodeGeometry(2, Vector(10L, 4L, 4L)).isLeft)
  }

  test("mvt decode polygon groups rings by y-down winding (decode.go:239-247)") {
    // spec 4.3.5.3: POLYGON (3 6, 8 12, 20 34) encoded CW-in-screen-coords
    assert(Mvt.decodeGeometry(3, Vector(9L, 6L, 12L, 18L, 10L, 12L, 24L, 44L, 15L)) ==
      Right(Some(GPolygon(Vector(P((3, 6), (8, 12), (20, 34)))))))
    // spec 4.3.5.4 multipolygon: two exteriors, second with a hole
    val mp = Vector(
      9L, 0L, 0L, 26L, 20L, 0L, 0L, 20L, 19L, 0L, 15L, // (0 0,10 0,10 10,0 10) CW
      9L, 22L, 2L, 26L, 18L, 0L, 0L, 18L, 17L, 0L, 15L, // (11 11,20 11,20 20,11 20) CW
      9L, 4L, 13L, 26L, 0L, 8L, 8L, 0L, 0L, 7L, 15L) // hole (13 13,13 17,17 17,17 13) CCW
    val got = Mvt.decodeGeometry(3, mp)
    assert(got == Right(Some(GMultiPolygon(Vector(
      Vector(P((0, 0), (10, 0), (10, 10), (0, 10))),
      Vector(P((11, 11), (20, 11), (20, 20), (11, 20)),
             P((13, 13), (13, 17), (17, 17), (17, 13))))))), got)
    // first ring must be exterior (CW in screen coords)
    val holeFirst = Vector(9L, 4L, 13L, 26L, 0L, 8L, 8L, 0L, 0L, 7L, 15L)
    assert(Mvt.decodeGeometry(3, holeFirst).isLeft)
  }

  test("mvt encode→decode round trip over prepared geometries") {
    val tile = Extent(0, 0, 4096, 4096)
    val geoms: Seq[Geometry] = Seq(
      GPoint((101, 202)),
      GMultiPoint(P((5, 7), (3, 2), (900, 900))),
      GLineString(P((2, 2), (2, 10), (10, 10))),
      GMultiLineString(Vector(P((2, 2), (2, 10), (10, 10)), P((1, 1), (3, 5)))),
      GPolygon(Vector(P((3, 6), (8, 12), (20, 34)))),
      GMultiPolygon(Vector(
        Vector(P((0, 0), (10, 0), (10, 10), (0, 10))),
        Vector(P((11, 1), (20, 1), (20, 10), (11, 10)),
               P((13, 3), (13, 7), (17, 7), (17, 3))))))
    geoms.foreach { g =>
      // prepare rectifies winding/dedupes first — decode must invert encode
      // exactly on the prepared form
      val prepped = Mvt.prepareGeo(g, tile, 4096.0)
      val (cmds, tpe) = Mvt.encodeGeometry(prepped)
      val back = Mvt.decodeGeometry(tpe, cmds)
      assert(back.isRight && back.toOption.get.isDefined, s"$g → $back")
      // re-encoding the decoded geometry reproduces the identical stream
      val (cmds2, tpe2) = Mvt.encodeGeometry(back.toOption.get.get)
      assert(tpe2 == tpe && cmds2 == cmds, s"$g re-encode mismatch")
    }
  }

  test("mvt typed tag values: all 7 Value variants wire-exact + round-trip + typed dedup") {
    import MvtTile._
    import MvtTile.TagValue._
    def le32(v: Int): Array[Byte] = Array.tabulate(4)(i => ((v >>> (8 * i)) & 0xFF).toByte)
    def le64(v: Long): Array[Byte] = Array.tabulate(8)(i => ((v >>> (8 * i)) & 0xFF).toByte)
    def frame(msg: Array[Byte]): Array[Byte] = Array[Byte](34, msg.length.toByte) ++ msg
    val f = Feature(1L, 1, Mvt.encodeGeometry(GPoint((1, 1)))._1, Vector(
      "s" -> VString("ab"), "f" -> VFloat(1.5f), "d" -> VDouble(-2.25),
      "i" -> VInt(300L), "u" -> VUint(5L), "z" -> VSint(-3L), "b" -> VBool(true)))
    val bytes = encodeLayer(Layer("t", Vector(f)))
    // expected value table: string=1/wire2, float=2/wire5, double=3/wire1,
    // int=4/varint, uint=5/varint, sint=6/zigzag (-3 → 5), bool=7/varint
    val expected = Array(
      frame(Array[Byte](10, 2, 'a'.toByte, 'b'.toByte)),
      frame(Array[Byte](21) ++ le32(java.lang.Float.floatToIntBits(1.5f))),
      frame(Array[Byte](25) ++ le64(java.lang.Double.doubleToLongBits(-2.25))),
      frame(Array[Byte](32, ((300 % 128) + 128).toByte, (300 / 128).toByte)),
      frame(Array[Byte](40, 5)),
      frame(Array[Byte](48, 5)),
      frame(Array[Byte](56, 1))).flatten
    assert(bytes.sliding(expected.length).exists(_.sameElements(expected)),
      "typed value table bytes not found in layer")
    val back = decodeTile(encodeTile(Vector(Layer("t", Vector(f)))))
    assert(back.head.features.head.properties == f.properties, "typed props round-trip")
    // dedup is scoped within each variant: VInt(3) vs VSint(3) stay distinct
    val g = Feature(2L, 1, f.geometry, Vector("a" -> VInt(3L), "b" -> VSint(3L)))
    val lb = encodeLayer(Layer("t", Vector(g)))
    val vInt3 = frame(Array[Byte](32, 3))
    val vSint3 = frame(Array[Byte](48, 6)) // zigzag(3) = 6
    assert(lb.sliding(4).exists(_.sameElements(vInt3)) && lb.sliding(4).exists(_.sameElements(vSint3)))
    // nil tags are dropped (reference feature.go:379): null value emits no tag
    val h = Feature(3L, 1, f.geometry, Vector("a" -> VString("x"), "n" -> null))
    val hb = decodeTile(encodeTile(Vector(Layer("t", Vector(h)))))
    assert(hb.head.features.head.properties == Vector("a" -> VString("x")))
  }

  test("mvt full tile decode inverts encodeTile (layers, features, properties)") {
    val f1 = MvtTile.Feature(7L, 1, Mvt.encodeGeometry(GPoint((25, 17)))._1,
      MvtTile.strProps("name" -> "alpha", "kind" -> "poi"))
    val f2 = MvtTile.Feature(8L, 2,
      Mvt.encodeGeometry(GLineString(P((2, 2), (2, 10), (10, 10))))._1,
      MvtTile.strProps("name" -> "beta", "kind" -> "poi")) // "kind"→"poi" dedups
    val layerA = MvtTile.Layer("roads", Vector(f1, f2))
    val layerB = MvtTile.Layer("pois", Vector(f1.copy(id = 9L)), extent = 512)
    val bytes = MvtTile.encodeTile(Vector(layerA, layerB))
    val back = MvtTile.decodeTile(bytes)
    assert(back == Vector(layerA, layerB))
    // and geometry decodes back from the decoded feature
    val g = Mvt.decodeGeometry(back(0).features(0).geomType, back(0).features(0).geometry)
    assert(g == Right(Some(GPoint((25.0, 17.0)))))
  }

  test("geojson Feature / FeatureCollection encode + Unmarshal dispatch (geojson.go:44-123,297-319)") {
    import GeoJson.Feature
    // wire shape: id omitted when absent, geometry/properties null when
    // absent, property map keys SORTED (Go map marshal), HTML escaping
    val f0 = Feature(Some(GPoint((25.0, 17.0))))
    assert(GeoJson.encodeFeature(f0) ==
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[25.0,17.0]},"properties":null}""")
    val f1 = Feature(Some(GPoint((1.0, 2.0))), id = Some(42L),
      properties = Some(Map("name" -> "a<b", "count" -> 3L, "score" -> 1.5, "ok" -> true, "nil" -> null)))
    val enc = GeoJson.encodeFeature(f1)
    // NB: "\\u003c" in a normal-quoted string = the literal 6 chars \u003c
    // (Scala 2 pre-processes \uXXXX even inside triple quotes)
    val escapedName = "\"a\\u003cb\""
    assert(enc ==
      """{"type":"Feature","id":42,"geometry":{"type":"Point","coordinates":[1.0,2.0]},""" +
      """"properties":{"count":3,"name":""" + escapedName +
      ""","nil":null,"ok":true,"score":1.5}}""", enc)
    // null geometry is legal (reference: "Geometry can be null")
    assert(GeoJson.encodeFeature(Feature(None)) ==
      """{"type":"Feature","geometry":null,"properties":null}""")
    // round-trip through the case-insensitive Unmarshal dispatch
    val back = GeoJson.decodeFeatureOrCollection(enc)
    assert(back == Left(f1.copy(properties = Some(Map(
      "count" -> 3L, "name" -> "a<b", "nil" -> null, "ok" -> true, "score" -> 1.5)))))
    val fc = """{"type":"FeatureCollection","features":[""" +
      GeoJson.encodeFeature(f0) + "," + enc + "]}"
    val backFc = GeoJson.decodeFeatureOrCollection(fc)
    assert(backFc.isRight && backFc.toOption.get.length == 2)
    assert(GeoJson.decodeFeatureOrCollection("""{"TYPE":"FEATURE","geometry":null}""")
      == Left(Feature(None)), "lowercased dispatch (strings.ToLower)")
    intercept[GeoJson.GeoJsonException] {
      GeoJson.decodeFeatureOrCollection("""{"type":"Point","coordinates":[1,2]}""")
    } // reference: ErrUnknownFeatureType for bare geometries
    // polygon rings close on encode inside a feature
    val poly = Feature(Some(GPolygon(Vector(P((0, 0), (4, 0), (4, 4))))))
    assert(GeoJson.encodeFeature(poly).contains(
      "[[[0.0,0.0],[4.0,0.0],[4.0,4.0],[0.0,0.0]]]"))
  }

  test("codec robustness: malformed feature JSON and truncated MVT bytes fail cleanly") {
    import GeoJson.Feature
    // malformed features: clean exceptions, never hangs or silent nulls
    for (bad <- Seq(
        """{"type":"Feature","geometry":{"type":"Nope","coordinates":[]}}""",
        """{"type":"FeatureCollection"}""", // missing features
        """{"no_type_at_all":1}""",
        """[1,2,3]""",
        """not json at all""")) {
      intercept[Exception](GeoJson.decodeFeatureOrCollection(bad))
    }
    // non-finite property values are a marshal ERROR (Go parity), both spellings
    intercept[GeoJson.GeoJsonException](
      GeoJson.encodeFeature(Feature(None, properties = Some(Map("v" -> Double.NaN)))))
    intercept[GeoJson.GeoJsonException](
      GeoJson.encodeFeature(Feature(None, properties = Some(Map("v" -> Float.PositiveInfinity)))))
    // truncated / corrupted MVT tile bytes: exceptions, not corrupt Layers
    val good = MvtTile.encodeTile(Vector(MvtTile.Layer("t", Vector(
      MvtTile.Feature(1L, 1, Mvt.encodeGeometry(GPoint((25, 17)))._1,
        MvtTile.strProps("k" -> "v"))))))
    for (cut <- Seq(1, good.length / 2, good.length - 1)) {
      val truncated = good.take(cut)
      try {
        MvtTile.decodeTile(truncated) // either throws or yields a partial decode…
        ()
      } catch { case _: Exception => () } // …but must never hang or corrupt memory
    }
    // full round-trip still intact after the truncation attempts
    assert(MvtTile.decodeTile(good).head.features.head.properties ==
      MvtTile.strProps("k" -> "v"))
  }

  test("property floats render in Go json form on edge values (round-4 advice)") {
    import GeoJson.Feature
    def enc(v: Any): String = {
      val s = GeoJson.encodeFeature(Feature(None, properties = Some(Map("v" -> v))))
      s.stripPrefix("""{"type":"Feature","geometry":null,"properties":{"v":""")
        .stripSuffix("}}")
    }
    // Go json.Marshal reference outputs (fmt 'f' unless abs<1e-6 or >=1e21)
    assert(enc(1e16) == "10000000000000000")
    assert(enc(1e21) == "1e+21")
    assert(enc(-1e21) == "-1e+21")
    assert(enc(1.25e22) == "1.25e+22")
    assert(enc(1.2e-7) == "1.2e-7")
    assert(enc(0.000001) == "0.000001") // 1e-6 itself stays plain
    assert(enc(-0.0) == "-0")
    assert(enc(0.0) == "0")
    assert(enc(3.0) == "3")
    assert(enc(123.45) == "123.45")
    assert(enc(0.001) == "0.001")
    assert(enc(-2.5f) == "-2.5")
    assert(enc(3.0f) == "3")
    assert(enc(1e22f) == "1e+22")
  }

  test("feature decode rejects string ids and non-object properties (Go Unmarshal parity)") {
    intercept[GeoJson.GeoJsonException](GeoJson.decodeFeatureOrCollection(
      """{"type":"Feature","geometry":null,"id":"abc","properties":null}"""))
    intercept[GeoJson.GeoJsonException](GeoJson.decodeFeatureOrCollection(
      """{"type":"Feature","geometry":null,"properties":[1,2]}"""))
    // integral id still decodes
    val f = GeoJson.decodeFeatureOrCollection(
      """{"type":"Feature","geometry":null,"id":7,"properties":null}""")
    assert(f.left.toOption.flatMap(_.id).contains(7L))
  }

  test("corrupt Value message bytes fail cleanly instead of mis-decoding (round-4 advice)") {
    // a Value whose declared length cuts a fixed64 double in half: the
    // reader must error at the message boundary, not read sibling bytes
    val good = MvtTile.encodeTile(Vector(MvtTile.Layer("t", Vector(
      MvtTile.Feature(1L, 1, Mvt.encodeGeometry(GPoint((25, 17)))._1,
        Vector("d" -> MvtTile.TagValue.VDouble(2.5), "k" -> MvtTile.TagValue.VString("v")))))))
    // find the fixed64 marker (tag 3, wire 1 => byte 0x19) inside the tile
    // and truncate the ENCLOSING Value's declared length to cut it short
    val idx = good.indexOfSlice(Array[Byte](0x19.toByte))
    assert(idx > 0, "fixed64 double tag not found in encoded tile")
    val corrupt = good.clone()
    corrupt(idx - 1) = 5 // Value msg length 9 (tag+fixed64) -> 5: truncates the double
    val r = try { Some(MvtTile.decodeTile(corrupt)) } catch { case _: Exception => None }
    // either a clean failure, or (if framing happened to survive) the
    // double must NOT silently decode to a wrong value from stolen bytes
    r.foreach { layers =>
      val vs = layers.flatMap(_.features).flatMap(_.properties).collect {
        case (_, MvtTile.TagValue.VDouble(d)) => d
      }
      assert(!vs.exists(d => d != 2.5), s"mis-decoded double from stolen bytes: $vs")
    }
  }

  test("runaway varints and 64-bit lengths fail cleanly (round-5 review)") {
    // 12 continuation bytes: a valid proto varint is at most 10 bytes, so
    // the tag read must error instead of masking the shift amount and
    // ORing bits into wrong positions
    intercept[Exception](MvtTile.decodeTile(Array.fill[Byte](12)(0xFF.toByte)))
    // a layer field declaring length 2^32: .toInt would alias it to 0 and
    // silently decode an empty message — must error before narrowing
    val big = Array[Byte](0x1A, 0x80.toByte, 0x80.toByte, 0x80.toByte,
      0x80.toByte, 0x10)
    intercept[Exception](MvtTile.decodeTile(big))
    // Long.MaxValue-adjacent length (sign bit games): also a clean error
    val neg = Array[Byte](0x1A) ++ Array.fill[Byte](9)(0xFF.toByte) :+ 0x01.toByte
    intercept[Exception](MvtTile.decodeTile(neg))
  }

  test("mvt decoder survives 500 seeded byte mutations (never hangs, never mis-frames)") {
    // the guard set (message-end bounds, 10-byte varint cap, 64-bit
    // length rejection) means any corruption either decodes SOME valid
    // framing or throws a clean Exception — no hangs, no JVM errors
    val good = MvtTile.encodeTile(Vector(MvtTile.Layer("t", Vector(
      MvtTile.Feature(7L, 2, Mvt.encodeGeometry(
        GLineString(P((2, 2), (10, 10), (10, 2))))._1,
        Vector("k" -> MvtTile.TagValue.VString("v"),
          "d" -> MvtTile.TagValue.VDouble(2.5),
          "n" -> MvtTile.TagValue.VInt(-3L)))))))
    val rnd = new scala.util.Random(424242L)
    var threw = 0
    for (_ <- 0 until 500) {
      val m = good.clone()
      val nMut = 1 + rnd.nextInt(3)
      for (_ <- 0 until nMut)
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try { MvtTile.decodeTile(m); () }
      catch { case _: Exception => threw += 1 } // Error/hang would fail the suite
    }
    // sanity: mutations do get rejected sometimes (the guards fire)
    assert(threw > 0, "no mutation ever threw — guards likely dead")
    // and the pristine tile still decodes after the fuzz loop
    assert(MvtTile.decodeTile(good).head.features.head.id == 7L)
  }

  test("feature ids outside int64 error instead of wrapping (round-5 review)") {
    // 2^64-1 is a legal Go uint64 id but exceeds our Long: Jackson asLong
    // would silently wrap it negative — must be a GeoJsonException
    intercept[GeoJson.GeoJsonException](GeoJson.decodeFeatureOrCollection(
      """{"type":"Feature","geometry":null,"id":18446744073709551615,"properties":null}"""))
    // Long.MaxValue itself still decodes
    val f = GeoJson.decodeFeatureOrCollection(
      """{"type":"Feature","geometry":null,"id":9223372036854775807,"properties":null}""")
    assert(f.left.toOption.flatMap(_.id).contains(Long.MaxValue))
  }
}
