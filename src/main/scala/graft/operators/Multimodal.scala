package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video travel as opaque `binary`
  * columns plus a typed metadata struct; feature extraction is an
  * expression over the binary column, and resize / frame sampling run
  * per-partition over the payloads.
  *
  * Resize is REAL for formats the JDK ships codecs for (PNG/JPEG/GIF/BMP
  * via `javax.imageio` — no external dependency). Payloads no installed
  * codec recognizes (webp here, plus the text-byte fixtures) fall back to
  * a deterministic byte-level stub, so the pipeline shape is total
  * either way.
  */
object Multimodal {
  /** Synthesize a media table from the documents fixture: payload = UTF-8
    * bytes of the text (an opaque blob as far as the pipeline is concerned),
    * metadata derived deterministically from doc_id. */
  def mediaFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      col("text").cast("binary").as("media"),
      struct(
        (col("doc_id") % 640 + 16).cast("int").as("width"),
        (col("doc_id") % 480 + 16).cast("int").as("height"),
        element_at(array(lit("jpeg"), lit("png"), lit("webp")),
          (col("doc_id") % 3 + 1).cast("int")).as("format")).as("meta"))

  /** Expression-path features over the binary column (codegen'd, oracle-
    * checkable): byte length + content hash. */
  def featureColumns(media: Column): Seq[Column] = Seq(
    octet_length(media).cast("long").as("n_bytes"),
    Dedup.hash60(media).as("content_hash"))

  // ---- per-partition path (the mapInPandas-equivalent seam) ----

  case class MediaRow(doc_id: Long, media: Array[Byte],
                      width: Int, height: Int, format: String)

  /** Flatten [[mediaFrame]] output into the typed row shape. */
  def mediaRows(docs: DataFrame): Dataset[MediaRow] =
    mediaFrame(docs).select(col("doc_id"), col("media"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      col("meta.format").as("format"))
      .as[MediaRow](Encoders.product[MediaRow])

  /** Box-filter (area-mean) rescale of a DECODABLE payload: each target
    * pixel averages its source rectangle per channel, re-encoded as PNG
    * (the JDK's lossless writer, so the resized raster — dims and luma —
    * survives a decode round-trip exactly). None when no installed codec
    * recognizes the payload. */
  def resizeImage(bytes: Array[Byte], tw: Int, th: Int): Option[Array[Byte]] =
    try {
      require(tw > 0 && th > 0, "target dims must be positive")
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        .map { img =>
          val sw = img.getWidth; val sh = img.getHeight
          val out = new java.awt.image.BufferedImage(tw, th,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var ty = 0
          while (ty < th) {
            val y0 = ty * sh / th
            val y1 = math.max(y0 + 1, (ty + 1) * sh / th)
            var tx = 0
            while (tx < tw) {
              val x0 = tx * sw / tw
              val x1 = math.max(x0 + 1, (tx + 1) * sw / tw)
              var rs = 0L; var gs = 0L; var bs = 0L; var n = 0
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) {
                  val rgb = img.getRGB(x, y)
                  rs += (rgb >> 16) & 0xff; gs += (rgb >> 8) & 0xff
                  bs += rgb & 0xff
                  n += 1; x += 1
                }
                y += 1
              }
              out.setRGB(tx, ty, ((rs / n).toInt << 16) |
                ((gs / n).toInt << 8) | (bs / n).toInt)
              tx += 1
            }
            ty += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          bos.toByteArray
        }
    } catch { case _: Exception => None }

  /** Stub resize for payloads without an installed codec: keeps the byte
    * count proportional to the area ratio (deterministic stride sampling
    * of the payload) and rewrites the metadata to the target dims. */
  private def resizeStub(r: MediaRow, targetW: Int, targetH: Int): MediaRow = {
    val ratio = targetW.toDouble * targetH / (r.width.toLong * r.height)
    val outLen = math.max(1, math.min(r.media.length,
      math.round(r.media.length * ratio).toInt))
    val stride = math.max(1.0, r.media.length.toDouble / outLen)
    val out = Array.tabulate(outLen)(i =>
      r.media(math.min(r.media.length - 1, (i * stride).toInt)))
    MediaRow(r.doc_id, out, targetW, targetH, r.format)
  }

  /** Resize, real-first: decodable payloads (PNG/JPEG/GIF/BMP) get a true
    * area-mean raster rescale re-encoded as PNG ([[resizeImage]]); blobs
    * no codec recognizes keep the deterministic byte-stub path — the
    * pipeline stays total over arbitrary payloads either way. Narrow
    * per-partition transform — no shuffle. */
  def resize(ds: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] =
    ds.mapPartitions(_.map { r =>
      resizeImage(r.media, targetW, targetH) match {
        case Some(out) => MediaRow(r.doc_id, out, targetW, targetH, "png")
        case None => resizeStub(r, targetW, targetH)
      }
    })(Encoders.product[MediaRow])

  case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling for video-shaped payloads: the payload is modeled as a
    * sequence of fixed-size frames; keep every `every`-th. One input row
    * fans out to many — a generator (flatMap) shape, still narrow (no
    * shuffle); at scale the fan-out multiplies row count, not bytes read. */
  def sampleFrames(ds: Dataset[MediaRow], frameBytes: Int, every: Int): Dataset[Frame] = {
    require(frameBytes > 0 && every > 0, "frameBytes and every must be positive")
    ds.flatMap(r =>
      r.media.grouped(frameBytes).zipWithIndex.collect {
        case (f, i) if i % every == 0 => Frame(r.doc_id, i, f)
      })(Encoders.product[Frame])
  }
}
