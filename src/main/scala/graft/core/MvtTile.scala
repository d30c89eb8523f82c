package graft.core

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Mapbox Vector Tile (vector_tile.proto v2.1) container assembly —
  * layers / features / key-value dedup maps — with a hand-rolled protobuf
  * wire writer (varint + length-delimited only; the whole schema needs
  * nothing else). Semantics from /root/reference/encoding/mvt/
  * {layer,tile}.go and feature.go:360-702 (keyvalMapsFromFeatures:
  * keys/values deduped ACROSS features within a layer, tag indices refer
  * into those maps).
  */
object MvtTile {

  /** Typed tag value — the 7 variants of the vector_tile Value message
    * (vector_tile.proto:22-28; reference layer.go:133-190 vectorTileValue).
    * Case-class equality scopes the cross-feature value dedup WITHIN each
    * variant, exactly like the reference's per-Go-type dedup loops
    * (feature.go:360-576): VInt(3) and VSint(3) are distinct map entries.
    */
  sealed trait TagValue
  object TagValue {
    final case class VString(v: String) extends TagValue // string_value = 1
    final case class VFloat(v: Float) extends TagValue // float_value  = 2
    final case class VDouble(v: Double) extends TagValue // double_value = 3
    final case class VInt(v: Long) extends TagValue // int_value    = 4
    final case class VUint(v: Long) extends TagValue // uint_value   = 5 (bits unsigned)
    final case class VSint(v: Long) extends TagValue // sint_value   = 6 (zigzag)
    final case class VBool(v: Boolean) extends TagValue // bool_value   = 7

    /** JVM-type dispatch mirroring reference layer.go vectorTileValue:
      * sub-64-bit integers → sint (zigzag), Long → int, Float → float,
      * Double → double, Boolean → bool, String → string; nil tags are
      * dropped by the encoder (feature.go:379-381), so null → null here.
      */
    def of(v: Any): TagValue = v match {
      case null         => null
      case s: String    => VString(s)
      case b: Boolean   => VBool(b)
      case b: Byte      => VSint(b.toLong)
      case s: Short     => VSint(s.toLong)
      case i: Int       => VSint(i.toLong)
      case l: Long      => VInt(l)
      case f: Float     => VFloat(f)
      case d: Double    => VDouble(d)
      case other        => VString(String.valueOf(other))
    }
  }
  import TagValue._

  final case class Feature(id: Long, geomType: Int, geometry: IndexedSeq[Long],
                           properties: IndexedSeq[(String, TagValue)] = Vector.empty)
  final case class Layer(name: String, features: IndexedSeq[Feature],
                         extent: Int = 4096, version: Int = 2)

  /** convenience for the common string-only property shape. */
  def strProps(kvs: (String, String)*): IndexedSeq[(String, TagValue)] =
    kvs.map { case (k, v) => (k, VString(v): TagValue) }.toIndexedSeq

  // ---- protobuf wire primitives ----

  private final class Writer {
    val buf = new ArrayBuffer[Byte](256)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) {
        buf += ((v & 0x7F) | 0x80).toByte
        v >>>= 7
      }
      buf += (v & 0x7F).toByte
    }
    def tag(field: Int, wire: Int): Unit = varint((field << 3) | wire)
    def bytesField(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length); buf ++= b
    }
    def stringField(field: Int, s: String): Unit =
      bytesField(field, s.getBytes("UTF-8"))
    def varintField(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def packedField(field: Int, vs: IndexedSeq[Long]): Unit = {
      if (vs.isEmpty) return
      val inner = new Writer
      vs.foreach(inner.varint)
      bytesField(field, inner.result())
    }
    def fixed32(v: Int): Unit = {
      buf += (v & 0xFF).toByte
      buf += ((v >>> 8) & 0xFF).toByte
      buf += ((v >>> 16) & 0xFF).toByte
      buf += ((v >>> 24) & 0xFF).toByte
    }
    def fixed64(v: Long): Unit = {
      var i = 0
      while (i < 8) { buf += ((v >>> (8 * i)) & 0xFF).toByte; i += 1 }
    }
    def result(): Array[Byte] = buf.toArray
  }

  /** Value message — one of the 7 typed variants (proto2 explicit
    * presence: a set BoolValue(false) still writes its field).
    */
  private def encodeValue(v: TagValue): Array[Byte] = {
    val w = new Writer
    v match {
      case VString(s) => w.stringField(1, s)
      case VFloat(f)  => w.tag(2, 5); w.fixed32(java.lang.Float.floatToIntBits(f))
      case VDouble(d) => w.tag(3, 1); w.fixed64(java.lang.Double.doubleToLongBits(d))
      case VInt(l)    => w.varintField(4, l)
      case VUint(l)   => w.varintField(5, l)
      case VSint(l)   => w.varintField(6, (l << 1) ^ (l >> 63))
      case VBool(b)   => w.varintField(7, if (b) 1L else 0L)
    }
    w.result()
  }

  private def encodeFeature(f: Feature, tags: IndexedSeq[Long]): Array[Byte] = {
    val w = new Writer
    if (f.id != 0) w.varintField(1, f.id)
    w.packedField(2, tags)
    w.varintField(3, f.geomType.toLong)
    w.packedField(4, f.geometry)
    w.result()
  }

  /** Layer encode with cross-feature key/value dedup (reference
    * feature.go keyvalMapsFromFeatures + tags). Features are consumed from
    * an ITERATOR and each is serialized immediately, so a pathological hot
    * tile (dense urban cell at low zoom) holds only the growing OUTPUT bytes
    * and the key/value dedup maps in memory — never the decoded feature list.
    */
  def encodeLayerStream(name: String, features: Iterator[Feature],
                        extent: Int = 4096, version: Int = 2): Array[Byte] = {
    val keyIdx = mutable.LinkedHashMap[String, Int]()
    val valIdx = mutable.LinkedHashMap[TagValue, Int]()
    val w = new Writer
    w.varintField(15, version.toLong)
    w.stringField(1, name)
    features.foreach { f =>
      val tags = f.properties.flatMap { case (k, v) =>
        val ki = keyIdx.getOrElseUpdate(k, keyIdx.size)
        if (v == null) Nil // reference drops nil-valued tags (feature.go:379)
        else {
          val vi = valIdx.getOrElseUpdate(v, valIdx.size)
          Seq(ki.toLong, vi.toLong)
        }
      }
      w.bytesField(2, encodeFeature(f, tags))
    }
    keyIdx.keys.foreach(k => w.stringField(3, k))
    valIdx.keys.foreach(v => w.bytesField(4, encodeValue(v)))
    w.varintField(5, extent.toLong)
    w.result()
  }

  /** Tile: repeated Layer layers = 3, from pre-encoded layer bytes. */
  def encodeTileFromLayerBytes(layerBytes: IndexedSeq[Array[Byte]]): Array[Byte] = {
    val w = new Writer
    layerBytes.foreach(b => w.bytesField(3, b))
    w.result()
  }

  /** the [[Layer]] form (what `decodeTile` returns) of `encodeLayerStream`. */
  def encodeLayer(layer: Layer): Array[Byte] =
    encodeLayerStream(layer.name, layer.features.iterator, layer.extent, layer.version)

  def encodeTile(layers: IndexedSeq[Layer]): Array[Byte] =
    encodeTileFromLayerBytes(layers.map(encodeLayer))

  // ---- decode (reference encoding/mvt/decode.go:29-84) ----

  /** Every read is bounds-checked against the enclosing message `end`
    * (not just the array length): a truncated or corrupt nested message
    * must FAIL rather than silently read sibling-message bytes and
    * mis-decode them as its own floats/varints.
    */
  private final class Reader(bytes: Array[Byte], var i: Int, val end: Int) {
    def hasNext: Boolean = i < end
    private def need(n: Int): Unit =
      if (i + n > end) sys.error(s"truncated message: need $n bytes at $i, end $end")
    def varint(): Long = {
      var shift = 0; var v = 0L; var b = 0
      do {
        // a valid proto varint is at most 10 bytes; past shift 63 the JVM
        // masks the shift amount and ORs bits into WRONG positions, so a
        // run of continuation bytes must fail, not wrap
        if (shift > 63) sys.error(s"varint overruns 10 bytes at $i")
        need(1)
        b = bytes(i) & 0xFF; i += 1
        v |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    def lengthDelim(): (Int, Int) = { // (start, end)
      val len64 = varint()
      // toInt on a >=2^32 length would alias to a small positive value
      // that passes need(); reject before narrowing
      if (len64 < 0 || len64 > Int.MaxValue) sys.error(s"bad length $len64 at $i")
      val len = len64.toInt
      if (len < 0) sys.error(s"negative length $len at $i")
      need(len)
      val s = i
      i += len
      (s, i)
    }
    def fixed32(): Int = {
      need(4)
      val v = (bytes(i) & 0xFF) | ((bytes(i + 1) & 0xFF) << 8) |
        ((bytes(i + 2) & 0xFF) << 16) | ((bytes(i + 3) & 0xFF) << 24)
      i += 4
      v
    }
    def fixed64(): Long = {
      need(8)
      var v = 0L
      var j = 0
      while (j < 8) { v |= (bytes(i + j) & 0xFFL) << (8 * j); j += 1 }
      i += 8
      v
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 2 => lengthDelim()
      case 5 => need(4); i += 4
      case 1 => need(8); i += 8
      case w => sys.error(s"unsupported wire type $w")
    }
  }

  /** Full tile decode — inverse of encodeTile for the schema this engine
    * writes (all 7 typed Value variants; reference decode.go ignores
    * tile-level tags too). Feature tags are resolved back into
    * (key, TagValue) pairs.
    */
  def decodeTile(bytes: Array[Byte]): IndexedSeq[Layer] = {
    val layers = Vector.newBuilder[Layer]
    val r = new Reader(bytes, 0, bytes.length)
    while (r.hasNext) {
      val t = r.varint()
      if ((t >> 3).toInt == 3 && (t & 7) == 2) {
        val (s, e) = r.lengthDelim()
        layers += decodeLayer(bytes, s, e)
      } else r.skip((t & 7).toInt)
    }
    layers.result()
  }

  private def decodeLayer(bytes: Array[Byte], start: Int, end: Int): Layer = {
    var name = ""
    var extent = 4096
    var version = 2
    val keys = ArrayBuffer[String]()
    val values = ArrayBuffer[TagValue]()
    val rawFeatures = ArrayBuffer[(Long, Int, IndexedSeq[Long], IndexedSeq[Int])]()
    val r = new Reader(bytes, start, end)
    while (r.hasNext) {
      val t = r.varint()
      val field = (t >> 3).toInt
      val wire = (t & 7).toInt
      (field, wire) match {
        case (1, 2)  => val (s, e) = r.lengthDelim(); name = new String(bytes, s, e - s, "UTF-8")
        case (2, 2)  => val (s, e) = r.lengthDelim(); rawFeatures += decodeFeature(bytes, s, e)
        case (3, 2)  => val (s, e) = r.lengthDelim(); keys += new String(bytes, s, e - s, "UTF-8")
        case (4, 2)  => val (s, e) = r.lengthDelim(); values += decodeValue(bytes, s, e)
        case (5, 0)  => extent = r.varint().toInt
        case (15, 0) => version = r.varint().toInt
        case _       => r.skip(wire)
      }
    }
    val features = rawFeatures.map { case (id, gtype, geometry, tags) =>
      val props = tags.grouped(2).collect {
        case IndexedSeq(ki, vi) if ki < keys.length && vi < values.length =>
          (keys(ki), values(vi))
      }.toIndexedSeq
      Feature(id, gtype, geometry, props)
    }
    Layer(name, features.toIndexedSeq, extent, version)
  }

  private def decodeFeature(bytes: Array[Byte], start: Int, end: Int)
      : (Long, Int, IndexedSeq[Long], IndexedSeq[Int]) = {
    var id = 0L
    var gtype = 0
    var geometry: IndexedSeq[Long] = Vector.empty
    var tags: IndexedSeq[Int] = Vector.empty
    val r = new Reader(bytes, start, end)
    while (r.hasNext) {
      val t = r.varint()
      val field = (t >> 3).toInt
      val wire = (t & 7).toInt
      (field, wire) match {
        case (1, 0) => id = r.varint()
        case (2, 2) => // packed tags
          val (s, e) = r.lengthDelim()
          val pr = new Reader(bytes, s, e)
          val b = Vector.newBuilder[Int]
          while (pr.hasNext) b += pr.varint().toInt
          tags = b.result()
        case (3, 0) => gtype = r.varint().toInt
        case (4, 2) => // packed geometry
          val (s, e) = r.lengthDelim()
          val pr = new Reader(bytes, s, e)
          val b = Vector.newBuilder[Long]
          while (pr.hasNext) b += pr.varint()
          geometry = b.result()
        case _ => r.skip(wire)
      }
    }
    (id, gtype, geometry, tags)
  }

  /** Value message decode — inverse of `encodeValue` across all 7 typed
    * variants (zigzag undone for sint).
    */
  private def decodeValue(bytes: Array[Byte], start: Int, end: Int): TagValue = {
    val r = new Reader(bytes, start, end)
    var out: TagValue = VString("")
    while (r.hasNext) {
      val t = r.varint()
      val field = (t >> 3).toInt
      val wire = (t & 7).toInt
      (field, wire) match {
        case (1, 2) => val (s, e) = r.lengthDelim(); out = VString(new String(bytes, s, e - s, "UTF-8"))
        case (2, 5) => out = VFloat(java.lang.Float.intBitsToFloat(r.fixed32()))
        case (3, 1) => out = VDouble(java.lang.Double.longBitsToDouble(r.fixed64()))
        case (4, 0) => out = VInt(r.varint())
        case (5, 0) => out = VUint(r.varint())
        case (6, 0) => val z = r.varint(); out = VSint((z >>> 1) ^ -(z & 1))
        case (7, 0) => out = VBool(r.varint() != 0)
        case _      => r.skip(wire)
      }
    }
    out
  }

  // ---- minimal decode (round-trip testing only) ----

  def decodeTileLayerNames(bytes: Array[Byte]): IndexedSeq[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    def varint(): Long = {
      var shift = 0; var v = 0L
      var b = 0
      do {
        b = bytes(i) & 0xFF; i += 1
        v |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    while (i < bytes.length) {
      val t = varint()
      val field = (t >> 3).toInt
      val wire = (t & 7).toInt
      if (field == 3 && wire == 2) {
        val len = varint().toInt
        val layerBytes = bytes.slice(i, i + len)
        i += len
        // scan the layer for its name (field 1)
        var j = 0
        def lvarint(): Long = {
          var shift = 0; var v = 0L; var b = 0
          do { b = layerBytes(j) & 0xFF; j += 1; v |= (b & 0x7FL) << shift; shift += 7 }
          while ((b & 0x80) != 0)
          v
        }
        var found = false
        while (j < layerBytes.length && !found) {
          val lt = lvarint()
          val lf = (lt >> 3).toInt; val lw = (lt & 7).toInt
          if (lf == 1 && lw == 2) {
            val l = lvarint().toInt
            out += new String(layerBytes.slice(j, j + l), "UTF-8")
            found = true
          } else if (lw == 0) lvarint()
          else if (lw == 2) { val l = lvarint().toInt; j += l }
        }
      } else if (wire == 0) varint()
      else if (wire == 2) { val len = varint().toInt; i += len }
    }
    out.result()
  }
}
