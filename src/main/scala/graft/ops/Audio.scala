package graft.ops

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Audio modality of the multimodal column: REAL RIFF/WAVE PCM decode,
  * hand-rolled over the container bytes (no native audio stack involved —
  * the RIFF chunk grammar and PCM sample layouts are fully specified, so a
  * from-scratch parser is both deterministic across JVMs and budget-
  * guardable, unlike `javax.sound.sampled` whose SPI discovery varies).
  *
  * Decode yields true channel count / sample rate / bit depth / frame
  * count, an exact sample sum (the closed-form oracle hook, mirroring
  * [[Multimodal.pixelSum]]), and a frame-sampled mean-|amplitude| feature
  * (the brief's "frame-sample" stage). Payloads that are not RIFF/WAVE PCM
  * fall back to the deterministic stub — same poison-row philosophy as the
  * image and PDF legs: one corrupt blob never kills a task.
  *
  * Scale notes:
  *  - decode is a shuffle-free per-row map, partitioning is the
  *    caller's choice (same shape as [[Multimodal.decode]]);
  *  - a declared-size bomb (tiny header, huge `data` chunk) is caught
  *    before sample iteration: frames beyond [[MaxFrames]] report
  *    metadata only (sample_sum = MinValue sentinel -> -1 on the row);
  *  - only sane fmt values are decoded (integer PCM 8/16/24-bit, IEEE
  *    float 32-bit, plain or WAVE_FORMAT_EXTENSIBLE, 1-8 channels) —
  *    anything else degrades to the stub rather than guessing.
  */
object Audio {

  /** Frame-count guard: data chunks declaring more frames than this get
    * metadata only (no sample read). 64M mono 16-bit frames = 128 MB.
    */
  val MaxFrames: Long = 64L * 1024 * 1024

  final case class AudioMeta(channels: Int, sampleRate: Int, bits: Int,
                             nFrames: Long, format: String)
  final case class DecodedAudio(doc_id: Long, n_bytes: Long, meta: AudioMeta,
                                duration_us: Long, sample_sum: Long,
                                feature: Array[Float])

  /** Stub for payloads that are not decodable WAV: deterministic pure
    * function of the leading bytes (companion of [[Multimodal.decodeStub]]).
    */
  def decodeStub(bytes: Array[Byte]): AudioMeta = {
    val b0 = if (bytes.length > 0) bytes(0) & 0xff else 0
    AudioMeta(channels = 1 + (b0 % 2), sampleRate = 8000, bits = 16,
      nFrames = bytes.length.toLong, format = "stub")
  }

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Parse a RIFF/WAVE PCM payload. Returns metadata plus the `data` chunk
    * bounds, or None when the payload is not WAV / not integer PCM /
    * structurally truncated. Walks the chunk list (fmt may come after
    * LIST/fact chunks); word-aligns chunk sizes per RIFF (odd sizes pad).
    */
  def parseWav(bytes: Array[Byte]): Option[(AudioMeta, Int, Long)] = {
    if (bytes == null || bytes.length < 44) return None
    if (tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
    // the chunk cursor is a Long: a declared u32 chunk size near 2^32 must
    // not wrap an Int offset into negative territory (that was a crash —
    // tag() at a negative index — on adversarial payloads)
    var off = 12L
    var meta: AudioMeta = null
    var dataOff = -1
    var dataLen = -1L
    while (off + 8 <= bytes.length && (meta == null || dataOff < 0)) {
      val iOff = off.toInt // safe: off + 8 <= bytes.length <= Int.MaxValue
      val ck = tag(bytes, iOff)
      val sz = u32(bytes, iOff + 4)
      val body = off + 8
      if (ck == "fmt " && sz >= 16 && body + 16 <= bytes.length) {
        val declaredFormat = u16(bytes, iOff + 8)
        val channels = u16(bytes, iOff + 10)
        val rate = u32(bytes, iOff + 12)
        val bits = u16(bytes, iOff + 22)
        // 0xFFFE = WAVE_FORMAT_EXTENSIBLE: the REAL format tag is the
        // first u16 of the SubFormat GUID at fmt offset 24 (after
        // cbSize=22, validBits, channelMask) — ubiquitous for >2-channel
        // and studio float WAVs in crawled corpora
        val audioFormat =
          if (declaredFormat == 0xFFFE && sz >= 40 && body + 26 <= bytes.length)
            u16(bytes, iOff + 32)
          else declaredFormat
        // tag 1 = integer PCM (8/16/24-bit), tag 3 = IEEE float (32-bit) —
        // the layouts crawled WAVs actually carry; anything else degrades
        // to the stub rather than guessing a sample layout.
        val okPcm = audioFormat == 1 && (bits == 8 || bits == 16 || bits == 24)
        val okFloat = audioFormat == 3 && bits == 32
        if ((!okPcm && !okFloat) ||
          channels < 1 || channels > 8 || rate < 1 || rate > 1000000) return None
        meta = AudioMeta(channels, rate.toInt, bits, 0L,
          if (okFloat) "wavf" else "wav")
      } else if (ck == "data") {
        dataOff = body.toInt
        dataLen = math.min(sz, bytes.length - body)
      }
      // always advances by >= 8 (header), and a bomb-size sz just pushes
      // the Long cursor past bytes.length, ending the walk cleanly
      off = body + sz + (sz & 1L)
    }
    if (meta == null || dataOff < 0) return None
    val bytesPerFrame = meta.channels * (meta.bits / 8)
    val nFrames = dataLen / bytesPerFrame
    Some((meta.copy(nFrames = nFrames), dataOff, nFrames))
  }

  /** Little-endian IEEE-754 float32 sample at byte offset `off`. */
  private def f32(b: Array[Byte], off: Int): Float =
    java.lang.Float.intBitsToFloat(
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24))

  /** Exact sum of every sample across all channels: 8-bit WAV samples are
    * unsigned (0..255), 16/24-bit are signed little-endian, and 32-bit IEEE
    * float samples (format tag 3) contribute `round(sample * 256)` — a
    * fixed-point scaling that is EXACT whenever the samples are dyadic
    * multiples of 1/256, which the synthetic generator guarantees. The
    * audio analogue of [[Multimodal.pixelSum]] — closed-form for the
    * synthetic corpus, so a SQL oracle can restate it without touching the
    * bytes.
    */
  def sampleSum(bytes: Array[Byte], meta: AudioMeta, dataOff: Int): Long = {
    val n = meta.nFrames * meta.channels
    var sum = 0L
    var i = 0L
    if (meta.bits == 8) {
      while (i < n) { sum += bytes(dataOff + i.toInt) & 0xff; i += 1 }
    } else if (meta.bits == 16) {
      while (i < n) {
        val off = dataOff + (i * 2).toInt
        sum += (((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort).toLong
        i += 1
      }
    } else if (meta.bits == 24) {
      // signed 3-byte little-endian: sign-extend via a <<8 then >>8
      while (i < n) {
        val off = dataOff + (i * 3).toInt
        val v = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
          (bytes(off + 2) << 16)
        sum += ((v << 8) >> 8).toLong
        i += 1
      }
    } else {
      while (i < n) {
        val s = f32(bytes, dataOff + (i * 4).toInt).toDouble
        if (java.lang.Double.isFinite(s)) sum += math.round(s * 256.0)
        i += 1
      }
    }
    sum
  }

  /** Frame-sampled feature: `buckets` mean-|amplitude| cells over the frame
    * axis, channel-averaged and normalised to [0,1] — the audio analogue of
    * [[Multimodal.imageFeature]]'s thumbnail grid.
    */
  def audioFeature(bytes: Array[Byte], meta: AudioMeta, dataOff: Int,
                   buckets: Int = 8): Array[Float] = {
    val frames = meta.nFrames
    if (frames == 0L) return Array.fill(buckets)(0f)
    val sums = new Array[Double](buckets)
    val counts = new Array[Long](buckets)
    val full = meta.bits match {
      case 8 => 128.0
      case 16 => 32768.0
      case 24 => 8388608.0
      case _ => 1.0 // float samples are already in [-1, 1]
    }
    var i = 0L
    while (i < frames) {
      val b = math.min(buckets - 1, (i * buckets / frames).toInt)
      var ch = 0
      var acc = 0.0
      while (ch < meta.channels) {
        val s: Double = meta.bits match {
          case 8 => ((bytes(dataOff + (i * meta.channels + ch).toInt) & 0xff) - 128).toDouble
          case 16 =>
            val off = dataOff + ((i * meta.channels + ch) * 2).toInt
            ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort.toDouble
          case 24 =>
            val off = dataOff + ((i * meta.channels + ch) * 3).toInt
            val v = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
              (bytes(off + 2) << 16)
            ((v << 8) >> 8).toDouble
          case _ =>
            f32(bytes, dataOff + ((i * meta.channels + ch) * 4).toInt).toDouble
        }
        acc += math.abs(s)
        ch += 1
      }
      sums(b) += acc / meta.channels
      counts(b) += 1L
      i += 1
    }
    Array.tabulate(buckets) { b =>
      if (counts(b) == 0L) 0f else (sums(b) / counts(b) / full).toFloat
    }
  }

  /** Decode one payload: real WAV decode when the RIFF grammar and PCM
    * format check out, deterministic stub otherwise. sample_sum is -1 on
    * the stub path and on bomb-guarded oversize data chunks.
    */
  def decodeOne(id: Long, bytes: Array[Byte]): DecodedAudio = {
    val b = if (bytes == null) Array.empty[Byte] else bytes
    // poison-row contract (same as Multimodal.decodeOne): a structurally
    // corrupt payload must degrade to the stub, never kill the Spark task
    val parsed =
      try parseWav(b)
      catch { case scala.util.control.NonFatal(_) => None }
    parsed match {
      case Some((meta, dataOff, nFrames)) if nFrames <= MaxFrames =>
        try DecodedAudio(id, b.length.toLong, meta,
          duration_us = meta.nFrames * 1000000L / meta.sampleRate,
          sample_sum = sampleSum(b, meta, dataOff),
          feature = audioFeature(b, meta, dataOff))
        catch {
          case scala.util.control.NonFatal(_) =>
            val stub = decodeStub(b)
            DecodedAudio(id, b.length.toLong, stub,
              duration_us = stub.nFrames * 1000000L / stub.sampleRate,
              sample_sum = -1L, feature = Array.empty[Float])
        }
      case Some((meta, _, _)) =>
        DecodedAudio(id, b.length.toLong, meta,
          duration_us = meta.nFrames * 1000000L / meta.sampleRate,
          sample_sum = -1L, feature = Array.empty[Float])
      case None =>
        val meta = decodeStub(b)
        DecodedAudio(id, b.length.toLong, meta,
          duration_us = meta.nFrames * 1000000L / meta.sampleRate,
          sample_sum = -1L, feature = Array.empty[Float])
    }
  }

  /** Decode stage over (doc_id: long, payload: binary): a per-row map, no
    * shuffle — identical shape to [[Multimodal.decode]].
    */
  def decode(media: DataFrame): Dataset[DecodedAudio] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) => decodeOne(id, bytes) }
  }

  // -------------------------------------------------------------------
  // Deterministic synthetic WAVs (oracle-friendly)

  /** Tiny deterministic PCM WAV whose decoded properties are CLOSED-FORM in
    * the doc id, so a SQL oracle can state them without touching the bytes:
    *   channels c = 1 + id mod 2,   sampleRate = 8000
    *   bits     = 8 if id mod 3 == 0 else 16
    *   nFrames  n = 16 + id mod 97
    *   8-bit  sample(i,ch) = (5i + 9ch + idm) mod 256          (unsigned)
    *   16-bit sample(i,ch) = ((7i + 11ch + idm) mod 4096) - 2048  (signed)
    * with idm = id mod 256. PCM is lossless, so [[sampleSum]] of the decode
    * equals the sum of those formulas over frames x channels, and
    * duration_us = n * 125 exactly (sr = 8000). Odd ids exercise the RIFF
    * word-alignment pad via a junk LIST chunk before fmt.
    */
  def syntheticWav(docId: Long): Array[Byte] = {
    val id = docId & Long.MaxValue
    val c = (1L + id % 2L).toInt
    val bits = if (id % 3L == 0L) 8 else 16
    val n = (16L + id % 97L).toInt
    val idm = (id % 256L).toInt
    val data = new ByteArrayOutputStream()
    var i = 0
    while (i < n) {
      var ch = 0
      while (ch < c) {
        if (bits == 8) data.write((5 * i + 9 * ch + idm) % 256)
        else {
          val s = ((7 * i + 11 * ch + idm) % 4096) - 2048
          data.write(s & 0xff); data.write((s >> 8) & 0xff)
        }
        ch += 1
      }
      i += 1
    }
    val pcm = data.toByteArray
    val out = new ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    def tag4(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val junk = if (id % 2L == 1L) 7 else 0 // odd size -> exercises pad byte
    val junkTotal = if (junk > 0) 8 + junk + (junk & 1) else 0
    tag4("RIFF"); w32(4 + junkTotal + 24 + 8 + pcm.length + (pcm.length & 1)); tag4("WAVE")
    if (junk > 0) { tag4("LIST"); w32(junk); var k = 0; while (k < junk + (junk & 1)) { out.write(0x6b); k += 1 } }
    tag4("fmt "); w32(16)
    w16(1); w16(c); w32(8000)
    w32(8000L * c * (bits / 8)); w16(c * (bits / 8)); w16(bits)
    tag4("data"); w32(pcm.length)
    out.write(pcm)
    if ((pcm.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** Deterministic IEEE-float WAV (format tag 3, 32-bit), the format-3
    * counterpart of [[syntheticWav]] with its own closed form:
    *   channels c = 1 + id mod 2,   sampleRate = 8000,   bits = 32
    *   nFrames  n = 16 + id mod 97
    *   sample(i,ch) = (((13i + 17ch + idm) mod 4096) - 2048) / 256
    * with idm = id mod 256. Every sample is a dyadic multiple of 1/256 in
    * [-8, 8) — exactly representable in float32 — so [[sampleSum]]'s
    * `round(sample * 256)` recovers the integer numerator exactly and the
    * SQL oracle can restate the sum from the formula alone. The fmt chunk
    * is written at size 18 (trailing cbSize = 0), the layout real format-3
    * writers emit, exercising the non-16-byte fmt-size path.
    */
  def syntheticFloatWav(docId: Long): Array[Byte] = {
    val id = docId & Long.MaxValue
    val c = (1L + id % 2L).toInt
    val n = (16L + id % 97L).toInt
    val idm = (id % 256L).toInt
    val out = new ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    def tag4(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val dataLen = n * c * 4
    tag4("RIFF"); w32(4 + (8 + 18) + (8 + dataLen)); tag4("WAVE")
    tag4("fmt "); w32(18)
    w16(3); w16(c); w32(8000)
    w32(8000L * c * 4); w16(c * 4); w16(32); w16(0)
    tag4("data"); w32(dataLen)
    var i = 0
    while (i < n) {
      var ch = 0
      while (ch < c) {
        val m = ((13 * i + 17 * ch + idm) % 4096) - 2048
        w32(java.lang.Float.floatToIntBits(m / 256.0f).toLong & 0xffffffffL)
        ch += 1
      }
      i += 1
    }
    out.toByteArray
  }
}
