package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column handling: opaque `binary` payloads + typed metadata,
  * with per-row decode/feature stages.
  *
  * The image decode is REAL: `javax.imageio` ships with the JDK's
  * `java.desktop` module (PNG/JPEG/GIF/BMP/TIFF/WBMP readers — no external
  * jars), so decode yields true width/height/channel-count/format, an exact
  * raster sample sum, and a downsampled mean-intensity feature grid.
  * Payloads no registered reader recognises fall back to a deterministic
  * stub so one corrupt blob never kills a task (same poison-row philosophy
  * as the HTML extraction path).
  *
  * Scale notes:
  *  - decode is a shuffle-free per-row map; partitioning is the
  *    caller's choice, exactly like [[graft.pipeline.Extraction]];
  *  - a decompression bomb (tiny PNG declaring a huge raster) is caught
  *    BEFORE pixel allocation: header width/height are read without
  *    decoding, and rasters beyond [[MaxPixels]] report metadata only
  *    (pixelSum = -1, empty feature) instead of materialising gigabytes;
  *  - `ImageIO.setUseCache(false)` keeps the readers on heap buffers —
  *    no scratch-file I/O per image on executors.
  */
object Multimodal {

  /** Raster-size guard: images whose header declares more pixels than this
    * get metadata only (no pixel read). 16 Mpx ≈ 48 MB of 3-channel bytes,
    * bounded per in-flight row.
    */
  val MaxPixels: Long = 16L * 1024 * 1024

  ImageIO.setUseCache(false)

  final case class MediaMeta(width: Int, height: Int, channels: Int, format: String)
  final case class DecodedMedia(doc_id: Long, n_bytes: Long, meta: MediaMeta,
                                pixel_sum: Long, feature: Array[Float])

  /** Fallback for payloads no image reader recognises: a deterministic pure
    * function of the leading bytes (kept from the original stub so the
    * degraded path stays testable).
    */
  def decodeStub(bytes: Array[Byte]): MediaMeta = {
    val b0 = if (bytes.length > 0) bytes(0) & 0xff else 0
    val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
    MediaMeta(
      width = 16 + (b0 % 64) * 16,
      height = 16 + (b1 % 64) * 16,
      channels = 3,
      format = "stub")
  }

  /** Stub feature: 8-dim byte-histogram (degraded-path companion of
    * [[decodeStub]]).
    */
  def featureStub(bytes: Array[Byte], dim: Int = 8): Array[Float] = {
    val acc = new Array[Long](dim)
    var i = 0
    while (i < bytes.length) { acc((bytes(i) & 0xff) % dim) += 1; i += 1 }
    val n = math.max(1, bytes.length)
    acc.map(c => c.toFloat / n.toFloat)
  }

  /** Real image decode. Returns the decoded raster plus metadata, or None
    * when no registered ImageIO reader recognises the payload. Header
    * dimensions are read before any pixel work; oversized rasters return
    * metadata with `image = None` (bomb guard).
    */
  def decodeImage(bytes: Array[Byte]): Option[(MediaMeta, Option[BufferedImage])] = {
    if (bytes == null || bytes.length == 0) None
    else try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val w = reader.getWidth(0)
            val h = reader.getHeight(0)
            val fmt = reader.getFormatName.toLowerCase(java.util.Locale.ROOT)
            if (w.toLong * h.toLong > MaxPixels) {
              // channels without a full decode: ask the declared image type
              val it = reader.getImageTypes(0)
              val ch = if (it.hasNext) it.next().getSampleModel.getNumBands else -1
              Some((MediaMeta(w, h, ch, fmt), None))
            } else {
              val img = reader.read(0)
              Some((MediaMeta(img.getWidth, img.getHeight,
                img.getRaster.getNumBands, fmt), Some(img)))
            }
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Exact sum of every raster sample across all bands — band-order
    * independent, so it is stable regardless of which BufferedImage layout
    * the reader hands back (e.g. TYPE_3BYTE_BGR band offsets).
    */
  def pixelSum(img: BufferedImage): Long = {
    val raster = img.getRaster
    val bands = raster.getNumBands
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        var b = 0
        while (b < bands) { sum += raster.getSample(x, y, b); b += 1 }
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Real downsampled feature: grid×grid mean intensity (mean across bands,
    * normalised to [0,1]) — the classic thumbnail-embedding shape.
    */
  def imageFeature(img: BufferedImage, grid: Int = 4): Array[Float] = {
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    val bands = raster.getNumBands
    val sums = new Array[Double](grid * grid)
    val counts = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      val gy = math.min(grid - 1, y * grid / h)
      var x = 0
      while (x < w) {
        val gx = math.min(grid - 1, x * grid / w)
        var b = 0
        var s = 0
        while (b < bands) { s += raster.getSample(x, y, b); b += 1 }
        val idx = gy * grid + gx
        sums(idx) += s.toDouble / bands
        counts(idx) += 1L
        x += 1
      }
      y += 1
    }
    Array.tabulate(grid * grid) { i =>
      if (counts(i) == 0L) 0f else (sums(i) / counts(i) / 255.0).toFloat
    }
  }

  /** Decode one payload: real image decode when a reader recognises it,
    * deterministic stub otherwise. pixel_sum is -1 on the stub path and on
    * bomb-guarded oversize rasters.
    */
  def decodeOne(id: Long, bytes: Array[Byte]): DecodedMedia = {
    val b = if (bytes == null) Array.empty[Byte] else bytes
    decodeImage(b) match {
      case Some((meta, Some(img))) =>
        // sample pass guarded like Audio.decodeOne: a reader handing back a
        // raster whose accessors throw must degrade, never kill the task
        try DecodedMedia(id, b.length.toLong, meta, pixelSum(img), imageFeature(img))
        catch {
          case scala.util.control.NonFatal(_) =>
            DecodedMedia(id, b.length.toLong, decodeStub(b), -1L, featureStub(b))
        }
      case Some((meta, None)) =>
        DecodedMedia(id, b.length.toLong, meta, -1L, Array.empty[Float])
      case None =>
        DecodedMedia(id, b.length.toLong, decodeStub(b), -1L, featureStub(b))
    }
  }

  /** Decode stage over (doc_id: long, payload: binary): a per-row map, no
    * shuffle.
    */
  def decode(media: DataFrame): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) => decodeOne(id, bytes) }
  }

  // -------------------------------------------------------------------
  // Deterministic synthetic images (oracle-friendly)

  /** Tiny deterministic PNG whose decoded properties are CLOSED-FORM in the
    * doc id, so a SQL oracle can state them without touching the bytes:
    *   w  = 1 + id mod 16,  h = 1 + id mod 11,  idm = id mod 256
    *   id even  -> 8-bit grayscale, sample(x,y)   = (7x + 13y + idm) mod 256
    *   id odd   -> 8-bit RGB,       r = (3x + 5y + idm) mod 256
    *                                g = (11x + 2y + 3*idm) mod 256
    *                                b = (x + 7y + 5*idm) mod 256
    * PNG is lossless, so [[pixelSum]] of the decode equals the sum of those
    * formulas over the raster. Samples are written through the raster (not
    * setRGB) to bypass color-space conversion.
    */
  def syntheticPng(docId: Long): Array[Byte] = {
    val id = docId & Long.MaxValue
    val w = (1L + id % 16L).toInt
    val h = (1L + id % 11L).toInt
    val idm = (id % 256L).toInt
    val gray = id % 2L == 0L
    val img = new BufferedImage(w, h,
      if (gray) BufferedImage.TYPE_BYTE_GRAY else BufferedImage.TYPE_3BYTE_BGR)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (gray) {
          raster.setSample(x, y, 0, (7 * x + 13 * y + idm) % 256)
        } else {
          raster.setSample(x, y, 0, (3 * x + 5 * y + idm) % 256)
          raster.setSample(x, y, 1, (11 * x + 2 * y + 3 * idm) % 256)
          raster.setSample(x, y, 2, (x + 7 * y + 5 * idm) % 256)
        }
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
