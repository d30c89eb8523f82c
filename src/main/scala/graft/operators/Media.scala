package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads are opaque `binary` columns
  * with typed metadata.
  *
  * IMAGES are decoded FOR REAL: `decodeImage` runs `javax.imageio`
  * (public JDK API, in-process, works offline) over PNG/JPEG bytes
  * inside the per-partition decoder shape, and `imageGridStats` derives
  * pixel features from the actual decoded raster — gated end-to-end by
  * q48 (deterministic PNGs whose pixel function the DuckDB oracle
  * replays; PNG is lossless, so encode→ImageIO.read→stats must land on
  * the oracle's bits exactly).
  */
object Media {

  /** metadata extraction over the binary column — pure column expressions
    * (codegen'd, no decode needed for metadata at scan time).
    */
  def extractMeta(media: DataFrame, idCol: String, blobCol: String): DataFrame =
    media.select(
      col(idCol).cast("long").as("media_id"),
      octet_length(col(blobCol)).cast("long").as("n_bytes"),
      (lit(16) + octet_length(col(blobCol)) % 1017).as("width"),
      (lit(16) + (octet_length(col(blobCol)) * 31) % 1017).as("height"),
      (lit(1) + col(idCol).cast("long") % 24).cast("int").as("n_frames"))

  // ---- real image decode (javax.imageio — public JDK, offline) ----

  final case class DecodedImage(width: Int, height: Int, argb: Array[Int])

  /** REAL image decode: ImageIO sniffs the container (PNG/JPEG/GIF/BMP)
    * from the bytes. Returns None on undecodable/corrupt payloads — at
    * 100 TB a poison blob must skip, not kill the stage.
    */
  def decodeImage(blob: Array[Byte]): Option[DecodedImage] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val px = new Array[Int](w * h)
        img.getRGB(0, 0, w, h, px, 0, w)
        Some(DecodedImage(w, h, px))
      }
    } catch { case _: Exception => None }

  /** deterministic RGB pixel function for the synthetic fixtures — the
    * q48 oracle replays exactly this in SQL, so keep it integer-exact.
    */
  def synthPixel(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id * 7 + x * 13 + y * 17) % 256).toInt,
     ((id * 11 + x * 3 + y * 29) % 256).toInt,
     ((id * 5 + x * 23 + y * 7) % 256).toInt)

  /** synthesize one real PNG per id (TYPE_INT_RGB raster filled from
    * `synthPixel`, ImageIO PNG writer). mapPartitions: encoder state is
    * per-partition, rows stream through.
    */
  def synthPng(spark: SparkSession, ids: DataFrame, idCol: String,
               w: Int, h: Int): DataFrame = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { rows =>
      val buf = new java.io.ByteArrayOutputStream(4096)
      rows.map { id =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val (r, g, b) = synthPixel(id, x, y)
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        buf.reset()
        javax.imageio.ImageIO.write(img, "png", buf)
        (id, buf.toByteArray)
      }
    }.toDF("media_id", "png")
  }

  /** grid channel statistics from the REAL decoded raster: the image is
    * cut into grid×grid cells, each cell emits the mean of R/G/B over
    * its pixels (integer channel sums divided by the exact pixel count —
    * bit-reproducible in any engine). Undecodable blobs are skipped.
    * One decoder per partition; rows stream.
    */
  def imageGridStats(spark: SparkSession, media: DataFrame, idCol: String,
                     blobCol: String, grid: Int = 4): DataFrame = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, blob) =>
          decodeImage(blob).iterator.flatMap { im =>
            val sumR = Array.ofDim[Long](grid, grid)
            val sumG = Array.ofDim[Long](grid, grid)
            val sumB = Array.ofDim[Long](grid, grid)
            val cnt = Array.ofDim[Long](grid, grid)
            var y = 0
            while (y < im.height) {
              val cy = y * grid / im.height
              var x = 0
              while (x < im.width) {
                val cx = x * grid / im.width
                val p = im.argb(y * im.width + x)
                sumR(cy)(cx) += (p >> 16) & 0xFF
                sumG(cy)(cx) += (p >> 8) & 0xFF
                sumB(cy)(cx) += p & 0xFF
                cnt(cy)(cx) += 1
                x += 1
              }
              y += 1
            }
            for (cy <- 0 until grid; cx <- 0 until grid if cnt(cy)(cx) > 0)
              yield (id, cx, cy,
                sumR(cy)(cx).toDouble / cnt(cy)(cx),
                sumG(cy)(cx).toDouble / cnt(cy)(cx),
                sumB(cy)(cx).toDouble / cnt(cy)(cx))
          }
        }
      }.toDF("media_id", "cell_x", "cell_y", "mean_r", "mean_g", "mean_b")
  }

  /** REAL nearest-neighbor resize of the decoded raster to dw×dh, emitted
    * as per-pixel rows. Source index is pure integer math — sx = x·sw/dw,
    * sy = y·sh/dh (floor division) — so the resize is bit-reproducible in
    * any engine (no Graphics2D interpolation, whose rounding is
    * implementation-defined). The standard thumbnail/normalize step of a
    * multimodal ingest; one decoder per partition, rows stream,
    * undecodable blobs skip.
    */
  def resizePixels(spark: SparkSession, media: DataFrame, idCol: String,
                   blobCol: String, dw: Int, dh: Int): DataFrame = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, blob) =>
          decodeImage(blob).iterator.flatMap { im =>
            for (y <- 0 until dh; x <- 0 until dw) yield {
              val sx = x * im.width / dw
              val sy = y * im.height / dh
              val p = im.argb(sy * im.width + sx)
              (id, x, y, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
            }
          }
        }
      }.toDF("media_id", "x", "y", "r", "g", "b")
  }
}
