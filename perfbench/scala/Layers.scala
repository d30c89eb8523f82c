package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.core.Geom._
import graft.functions.GeomFunctions._
import graft.sources.{CatalogIO, DocsTable, Synth}
import PerfBench.{Json, Tracer}

/** Single-layer timings for the traced run, called from outside the
  * program through each layer's public functions:
  *
  *  - `core`: one thread, no Spark, µs and allocated bytes per row of each
  *    kernel over rows generated from the run's seed;
  *  - `functions`: rows/s of one `st_*` column over a cached frame of the
  *    same rows, written to the noop sink, and its kernel share: the core
  *    call chain the expression evaluates, per row on one thread, divided
  *    by the expression's time per row per core;
  *  - `sources`: the docs table + WKT extraction to the noop sink, and a
  *    bucketed write of q70's point side.
  */
final class Layers(spark: SparkSession, tr: Tracer, seed: Long,
                   nproc: Int, dataDir: String, inputRows: Long) {

  private val N = 20000
  private val rnd = new java.util.SplittableRandom(seed)
  private def u(lo: Double, hi: Double) = lo + (hi - lo) * rnd.nextDouble()

  // ---- seeded rows shared by the core and functions timings ----
  private val lon = Array.fill(N)(u(-170, 170))
  private val lat = Array.fill(N)(u(-80, 80))
  // q33-style boxes and bow-ties inside a z9 web-mercator tile
  private val tx = Array.fill(N)(rnd.nextInt(512))
  private val ty = Array.fill(N)(100 + rnd.nextInt(312))
  private val poly: Array[Geometry] = Array.tabulate(N) { i =>
    val t = Slippy.tileExtent3857(9, tx(i), ty(i))
    val (xs, ys) = (t.maxx - t.minx, t.maxy - t.miny)
    val (l, b) = (t.minx + u(0.1, 0.45) * xs, t.miny + u(0.1, 0.5) * ys)
    val (r, top) = (l + u(0.25, 0.4) * xs, b + u(0.25, 0.45) * ys)
    GPolygon(Vector(
      if (i % 2 == 0) Vector((l, b), (r, b), (r, top), (l, top))
      else Vector((l, b), (r, top), (r, b), (l, top))))
  }
  private val polyWkb = poly.map(Wkb.encode)
  private val polyWkt = poly.map(Wkt.encode)
  // q35's 5-point zigzag and q37's 3-point line through a per-row box
  private val line5: Array[Geometry] = Array.tabulate(N) { i =>
    val (x, y) = (lon(i), lat(i))
    GLineString(Vector((x, y), (x + 1, y + (i % 3) * 0.3), (x + 2, y + 2),
      (x + 3, y + (i % 5) * 0.2), (x + 4, y)))
  }
  private val line3: Array[Geometry] = Array.tabulate(N) { i =>
    val (x, y) = (lon(i), lat(i))
    GLineString(Vector((x - 1, y + 0.5), (x + 1, y + 1), (x + 3, y + 1.5)))
  }
  private val line5Wkb = line5.map(Wkb.encode)
  private val line3Wkb = line3.map(Wkb.encode)
  // Synth.regions' 25 boxes; each point sits near its region
  private val regionWkb = Array.tabulate(25) { k =>
    val (x0, y0) = (-180.0 + 14.0 * k, -80.0 + 6.5 * k)
    Wkb.encode(GPolygon(Vector(Vector((x0, y0), (x0 + 8, y0), (x0 + 8, y0 + 7), (x0, y0 + 7)))))
  }
  private val pipX = Array.tabulate(N)(i => -180.0 + 14.0 * (i % 25) + u(-2, 10))
  private val pipY = Array.tabulate(N)(i => -80.0 + 6.5 * (i % 25) + u(-2, 9))
  private val valid: Array[Geometry] = poly.map(g => MakeValid.geometry(g, None).get)
  private val tileExt = Array.tabulate(N)(i => Slippy.tileExtent3857(9, tx(i), ty(i)))

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** µs and allocated bytes per row of `f` on this thread: warm for
    * `warmS`, then run whole sweeps over the rows for at least `measureS`.
    */
  private def perRow(f: Int => Any, warmS: Double = 0.1, measureS: Double = 0.2)
      : (Double, Double) = {
    var sink = 0
    def sweepFor(s: Double): Long = {
      val t0 = System.nanoTime()
      var n = 0L
      while ((System.nanoTime() - t0) / 1e9 < s) {
        var i = 0
        while (i < N) { if (f(i) != null) sink += 1; i += 1 }
        n += N
      }
      n
    }
    sweepFor(warmS)
    val a0 = threads.getCurrentThreadAllocatedBytes
    val t0 = System.nanoTime()
    val n = sweepFor(measureS)
    val dt = System.nanoTime() - t0
    val alloc = threads.getCurrentThreadAllocatedBytes - a0
    if (sink < 0) println(sink)
    (dt / 1e3 / n, alloc.toDouble / n)
  }

  private val out = new Json.Obj
  private def put(k: String, v: Double): Unit = out(k) = Json.num(v)

  private def timed[T](name: String, parent: Int)(f: => T): T = {
    val s = tr.open(name, parent)
    try f finally tr.close(s)
  }

  def run(): Json.Obj = {
    core()
    functions()
    sources()
    out
  }

  private def core(): Unit = {
    val span = tr.open("core", -1)
    val mvtFeatures = Array.tabulate(N) { i =>
      val (cmds, tpe) = Mvt.encodeGeometryRaw(Mvt.prepareGeo(valid(i), tileExt(i)))
      MvtTile.Feature(i.toLong, tpe, scala.collection.immutable.ArraySeq.unsafeWrapArray(cmds),
        MvtTile.strProps("fid" -> i.toString))
    }
    val kernels: Seq[(String, Int => Any)] = Seq(
      "wkt_decode" -> (i => Wkt.decode(polyWkt(i))),
      "wkb_codec" -> (i => Wkb.encode(Wkb.decode(polyWkb(i)))),
      "simplify" -> (i => Simplify.geometry(line5(i), 0.5)),
      "clip" -> (i => Clip.geometry(line3(i), Some(Extent(lon(i), lat(i), lon(i) + 2, lat(i) + 2)))),
      "makevalid" -> (i => MakeValid.geometry(poly(i), None)),
      "mvt_encode" -> (i => Mvt.encodeGeometryRaw(Mvt.prepareGeo(valid(i), tileExt(i)))),
      // one 64-feature layer per call, reported per feature
      "mvt_tile" -> (i => if (i % 64 == 0)
        MvtTile.encodeLayerStream("features", mvtFeatures.iterator.slice(i, i + 64)) else ""),
      "pip" -> (i => WkbKernels.contains(regionWkb(i % 25), pipX(i), pipY(i))),
      "slippy" -> (i => Slippy.lon2Num(15, lon(i)) + Slippy.lat2Num(15, lat(i))))
    kernels.foreach { case (k, f) =>
      val (us, bytes) = timed(k, span)(perRow(f))
      put(s"core.$k.us_per_row", us)
      put(s"core.$k.alloc_bytes_per_row", bytes)
    }
    tr.close(span)
  }

  /** expression → (column over the cached frame, the core chain it runs) */
  private def exprs: Seq[(String, Column, Int => Any)] = {
    val nan = lit(Double.NaN)
    val wktUtf = polyWkt.map(UTF8String.fromString)
    Seq(
      ("st_geomfromwkt", st_geomfromwkt(col("wkt")), i => WkbKernels.fromWkt(wktUtf(i))),
      ("st_makevalid", st_makevalid(col("poly"), nan, nan, nan, nan),
        i => Wkb.encode(MakeValid.geometry(Wkb.decode(polyWkb(i)), None).get)),
      ("st_simplify", st_simplify(col("line5"), lit(0.5)),
        i => Wkb.encode(Simplify.geometry(Wkb.decode(line5Wkb(i)), 0.5))),
      ("st_clip", st_clip(col("line3"), col("lon"), col("lat"), col("lon") + 2, col("lat") + 2),
        i => Clip.geometry(Wkb.decode(line3Wkb(i)),
          Some(Extent(lon(i), lat(i), lon(i) + 2, lat(i) + 2))).map(Wkb.encode)),
      ("st_mvt_pipeline", st_mvt_pipeline(col("poly"), lit(9), col("tx"), col("ty")),
        i => mvtPipeline(polyWkb(i), tx(i), ty(i))),
      ("st_cell_at", st_cell_at(col("lon"), col("lat"), lit(15)),
        i => Slippy.cellAt(15, lon(i), lat(i))),
      ("st_tiles_for_bounds",
        st_tiles_for_bounds(col("lon") - 1, col("lat") - 1, col("lon") + 1, col("lat") + 1, lit(7)),
        i => Slippy.fromBounds(7, lon(i) - 1, lat(i) - 1, lon(i) + 1, lat(i) + 1)),
      ("st_contains", st_contains(col("region"), col("px"), col("py")),
        i => WkbKernels.contains(regionWkb(i % 25), pipX(i), pipY(i))))
  }

  /** the chain StMvtPipeline evaluates per row (simplify at one pixel,
    * makevalid clipped to the tile plus a pixel, prepare, encode) */
  private def mvtPipeline(wkb: Array[Byte], x: Int, y: Int): Any = {
    val ext = Slippy.tileExtent3857(9, x, y)
    val webs = (ext.maxx - ext.minx) / 4096.0
    val simp = Simplify.geometry(Wkb.decode(wkb), webs)
    val clip = Extent(ext.minx - webs, ext.miny - webs, ext.maxx + webs, ext.maxy + webs)
    MakeValid.geometry(simp, Some(clip)).map(g => Mvt.encodeGeometryRaw(Mvt.prepareGeo(g, ext)))
  }

  private def functions(): Unit = {
    val span = tr.open("functions", -1)
    import spark.implicits._
    val rows = (0 until N).map { i =>
      (polyWkt(i), polyWkb(i), line5Wkb(i), line3Wkb(i), lon(i), lat(i), tx(i).toLong,
        ty(i).toLong, regionWkb(i % 25), pipX(i), pipY(i))
    }
    val frame = rows.toDF("wkt", "poly", "line5", "line3", "lon", "lat", "tx", "ty",
      "region", "px", "py").repartition(nproc).cache()
    frame.count()
    exprs.foreach { case (name, c, chain) =>
      val s = tr.open(name, span)
      val walls = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        PerfBench.noop(frame.select(c.as("v")))
        (System.nanoTime() - t0) / 1e9
      }
      tr.close(s)
      val wall = walls.sorted.apply(1)
      val (chainUs, _) = timed(s"$name.core", span)(perRow(chain))
      put(s"functions.$name.rows_per_s", N / wall)
      put(s"functions.$name.kernel_share", chainUs / (wall * nproc / N * 1e6))
    }
    frame.unpersist(blocking = true)
    tr.close(span)
  }

  private def sources(): Unit = {
    val span = tr.open("sources", -1)
    val docs = (1 to 3).map { _ =>
      timed("docs", span) {
        val t0 = System.nanoTime()
        PerfBench.noop(DocsTable.extractGeometries(DocsTable.docs(spark, dataDir)))
        (System.nanoTime() - t0) / 1e9
      }
    }.sorted.apply(1)
    put("sources.docs.rows_per_s", inputRows / docs)

    // q70's point side, written the way q70 writes it
    val table = "perfbench_bucketed_pts"
    val pts = Synth.points(spark, dataDir)
      .withColumn("cell5", st_cell_at(col("lon"), col("lat"), lit(5)))
      .select(col("pid"), col("lon"), col("lat"), col("cell5"))
    val writes = (1 to 3).map { _ =>
      timed("write_bucketed", span) {
        val t0 = System.nanoTime()
        CatalogIO.writeBucketed(pts, table, "cell5", 16)
        (System.nanoTime() - t0) / 1e9
      }
    }.sorted.apply(1)
    val loc = Paths.get(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    val bytes = Files.walk(loc).filter(Files.isRegularFile(_))
      .filter(!_.getFileName.toString.startsWith("."))
      .mapToLong(Files.size(_)).sum()
    put("sources.write_bucketed_s", writes)
    put("sources.write_bytes_per_row", bytes.toDouble / inputRows)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    tr.close(span)
  }
}
