package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.Dataset

/** Multimodal (image/audio/video) columns as opaque `binary` + typed
  * metadata, per the training-data-pipeline requirements.
  *
  * The Spark-side plumbing — schema, batched per-partition processing, the
  * feature-row contract — is real and tested. Image decode is REAL for the
  * formats the JDK ships codecs for (PNG/JPEG/GIF/BMP via `javax.imageio`,
  * no external deps); payloads no reader recognizes fall back to
  * `decodeStub`, the clearly-marked deterministic fake for codec-less
  * media (audio/video in this container).
  */
object BinaryFeatures {

  // ImageIO's convenience entry points wrap every call in a DISK-backed
  // image cache by default (a temp file created+deleted per read/write —
  // measured dominant in the q59 decode→resize→decode path). The payloads
  // here are in-memory byte arrays; cache in memory.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaFeatures(
      doc_id: Long,
      kind: String, // "image" when really decoded, "stub" otherwise
      byte_len: Int,
      width: Int,
      height: Int,
      n_frames: Int,
      mean_byte: Double)

  /** STUB decode: deterministic fake metadata from raw bytes. Only used
    * when no JDK image reader accepts the payload.
    */
  def decodeStub(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val len = bytes.length
    var sum = 0L
    var i = 0
    while (i < len) { sum += (bytes(i) & 0xff); i += 1 }
    MediaFeatures(
      doc_id = id,
      kind = "stub",
      byte_len = len,
      width = len % 640,
      height = len % 480,
      n_frames = len % 7,
      // floor(x*1000+0.5): identical half-up semantics in SQL and JVM
      mean_byte = if (len == 0) 0.0
        else math.floor(sum.toDouble / len * 1000 + 0.5) / 1000)
  }

  // ------------------------------------------------------------------
  // Fast path for 8-bit grayscale PNG (the dominant payload shape of the
  // image operators): a direct encoder/decoder over the PNG spec avoids
  // ImageIO's per-call reader/writer registry scan, stream wrapping and
  // BufferedImage allocation — the per-task cost that dominated q59/q41
  // (three codec passes per row). Lossless and spec-conformant: rasters
  // round-trip exactly, so every decoded FEATURE (width/height/mean) is
  // identical to the ImageIO path; anything that is not a non-interlaced
  // gray-8 PNG falls back to ImageIO unchanged.
  // ------------------------------------------------------------------

  /** Decoded gray-8 raster: width, height, row-major samples. */
  private final case class Gray(w: Int, h: Int, px: Array[Byte])

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  private def crc32(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue.toInt
  }

  /** Minimal conformant gray-8 PNG: IHDR + one IDAT (filter 0 rows,
    * fastest deflate level) + IEND.
    */
  private def encodeGrayPng(g: Gray): Array[Byte] = {
    val raw = new Array[Byte](g.h * (g.w + 1)) // filter byte 0 per row
    var y = 0
    while (y < g.h) {
      System.arraycopy(g.px, y * g.w, raw, y * (g.w + 1) + 1, g.w)
      y += 1
    }
    val zOut = new ByteArrayOutputStream(raw.length / 2 + 64)
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    val ds = new java.util.zip.DeflaterOutputStream(zOut, defl, 8192)
    ds.write(raw)
    ds.finish()
    defl.end()
    val z = zOut.toByteArray
    assemblePng(g, z, z.length)
  }

  private def assemblePng(g: Gray, z: Array[Byte], zLen: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(8 + 25 + 12 + zLen + 12)
    out.put(PngSig)
    // IHDR: w, h, bit depth 8, color type 0 (gray), deflate, filter 0,
    // no interlace
    out.putInt(13).put("IHDR".getBytes)
    out.putInt(g.w).putInt(g.h).put(8.toByte).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte)
    out.putInt(crc32(out.array(), 12, 17))
    out.putInt(zLen).put("IDAT".getBytes).put(z, 0, zLen)
    out.putInt(crc32(out.array(), 8 + 25 + 4, 4 + zLen))
    out.putInt(0).put("IEND".getBytes)
    out.putInt(crc32(out.array(), out.position() - 4, 4))
    out.array()
  }

  /** Gray-8 non-interlaced PNG decode with full filter-type support
    * (None/Sub/Up/Average/Paeth), or None when the payload is any other
    * shape — the caller then takes the ImageIO path.
    */
  private def decodeGrayPng(b: Array[Byte]): Option[Gray] = {
    if (b.length < 45) return None
    var i = 0
    while (i < 8) { if (b(i) != PngSig(i)) return None; i += 1 }
    def be32(p: Int): Int =
      ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
        ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
    if (be32(8) != 13 || tag(b, 12) != "IHDR") return None
    val w = be32(16)
    val h = be32(20)
    // bit depth 8, color 0, compression 0, filter 0, interlace 0
    if (w <= 0 || h <= 0 || b(24) != 8 || b(25) != 0 ||
      b(26) != 0 || b(27) != 0 || b(28) != 0) return None
    if (w.toLong * h > (64 << 20)) return None // bail to ImageIO on huge
    // concatenate IDAT payloads. Long cursor + unsigned 32-bit lengths
    // (the probeWav discipline): a corrupt chunk size on untrusted bytes
    // must walk off the end and fall back to ImageIO, never wrap Int and
    // crash the task
    val idat = new ByteArrayOutputStream()
    var pos = 33L
    var done = false
    while (!done && pos + 8 <= b.length) {
      val p = pos.toInt
      val len = be32(p) & 0xffffffffL // unsigned
      val name = tag(b, p + 4)
      if (pos + 8 + len > b.length) return None
      name match {
        case "IDAT" => idat.write(b, p + 8, len.toInt)
        case "IEND" => done = true
        case _ => // ancillary chunks don't affect gray-8 samples
      }
      pos += 12 + len
    }
    if (idat.size() == 0) return None
    val raw = new Array[Byte](h * (w + 1))
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        // truncated stream, or a (PNG-forbidden) FDICT preset-dictionary
        // request — either way corrupt input: fall back, don't spin
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        got += n
      }
      if (got < raw.length) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    // un-filter in place into px
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      val ft = raw(y * (w + 1)) & 0xff
      val ro = y * (w + 1) + 1
      val po = y * w
      var x = 0
      ft match {
        case 0 => System.arraycopy(raw, ro, px, po, w)
        case 1 => // Sub: left
          while (x < w) {
            val left = if (x == 0) 0 else px(po + x - 1) & 0xff
            px(po + x) = ((raw(ro + x) + left) & 0xff).toByte
            x += 1
          }
        case 2 => // Up
          while (x < w) {
            val up = if (y == 0) 0 else px(po - w + x) & 0xff
            px(po + x) = ((raw(ro + x) + up) & 0xff).toByte
            x += 1
          }
        case 3 => // Average
          while (x < w) {
            val left = if (x == 0) 0 else px(po + x - 1) & 0xff
            val up = if (y == 0) 0 else px(po - w + x) & 0xff
            px(po + x) = ((raw(ro + x) + ((left + up) >> 1)) & 0xff).toByte
            x += 1
          }
        case 4 => // Paeth
          while (x < w) {
            val a = if (x == 0) 0 else px(po + x - 1) & 0xff
            val c0 = if (y == 0) 0 else px(po - w + x) & 0xff
            val c1 = if (x == 0 || y == 0) 0 else px(po - w + x - 1) & 0xff
            val p = a + c0 - c1
            val pa = math.abs(p - a); val pb = math.abs(p - c0); val pc = math.abs(p - c1)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) c0 else c1
            px(po + x) = ((raw(ro + x) + pred) & 0xff).toByte
            x += 1
          }
        case _ => return None
      }
      y += 1
    }
    Some(Gray(w, h, px))
  }

  /** Real decode: the gray-8 PNG fast path, then `javax.imageio`
    * (headless-safe) for every other format — genuine width/height and
    * mean of raster band 0 (= gray level for grayscale, red channel
    * otherwise). Falls back to [[decodeStub]] when no reader claims the
    * bytes.
    */
  def decode(id: Long, bytes: Array[Byte]): MediaFeatures = {
    decodeGrayPng(bytes) match {
      case Some(g) =>
        var sum = 0L
        var i = 0
        while (i < g.px.length) { sum += g.px(i) & 0xff; i += 1 }
        MediaFeatures(
          doc_id = id,
          kind = "image",
          byte_len = bytes.length,
          width = g.w,
          height = g.h,
          n_frames = 1,
          mean_byte =
            math.floor(sum.toDouble / (g.w.toLong * g.h) * 1000 + 0.5) / 1000)
      case None => decodeImageIo(id, bytes)
    }
  }

  private def decodeImageIo(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val img =
      try javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case _: Throwable => null }
    if (img == null) decodeStub(id, bytes)
    else {
      val raster = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      MediaFeatures(
        doc_id = id,
        kind = "image",
        byte_len = bytes.length,
        width = w,
        height = h,
        n_frames = 1,
        mean_byte = math.floor(sum.toDouble / (w.toLong * h) * 1000 + 0.5) / 1000)
    }
  }

  /** Deterministic single-color grayscale PNG — the test/bench fixture
    * generator (pure JDK, headless).
    */
  def syntheticPng(width: Int, height: Int, gray: Int): Array[Byte] = {
    val px = new Array[Byte](width * height)
    java.util.Arrays.fill(px, (gray & 0xff).toByte)
    encodeGrayPng(Gray(width, height, px))
  }

  /** Deterministic nearest-neighbor image resize: decode, sample the
    * source raster at floor-scaled coordinates, re-encode as PNG. Manual
    * raster sampling (not Graphics2D) so the result is bit-exact across
    * JVMs/render pipelines. Non-image payloads pass through unchanged.
    */
  def resizeNearest(bytes: Array[Byte], newW: Int, newH: Int): Array[Byte] = {
    val src: Gray = decodeGrayPng(bytes) match {
      case Some(g) => g
      case None =>
        val img =
          try javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
          catch { case _: Throwable => null }
        if (img == null) return bytes
        val r = img.getRaster
        val w = img.getWidth
        val h = img.getHeight
        val px = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            // band 0 with the raster's native sample range clamped to a
            // byte — identical to what TYPE_BYTE_GRAY setSample stored
            px(y * w + x) = (r.getSample(x, y, 0) & 0xff).toByte
            x += 1
          }
          y += 1
        }
        Gray(w, h, px)
    }
    val dst = new Array[Byte](newW * newH)
    var y = 0
    while (y < newH) {
      val sy = (y.toLong * src.h / newH).toInt
      var x = 0
      while (x < newW) {
        val sx = (x.toLong * src.w / newW).toInt
        dst(y * newW + x) = src.px(sy * src.w + sx)
        x += 1
      }
      y += 1
    }
    encodeGrayPng(Gray(newW, newH, dst))
  }

  // ------------------------------------------------------------------
  // Audio/video header probes (pure JDK byte parsing — real metadata,
  // no codec dependency; the payload is never decoded)
  // ------------------------------------------------------------------

  final case class AvFeatures(
      doc_id: Long,
      container: String, // "wav" | "mp4" | "unknown"
      byte_len: Int,
      sample_rate: Int,
      channels: Int,
      bits_per_sample: Int,
      duration_ms: Long)

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  private def tag(b: Array[Byte], i: Int): String =
    if (i + 4 > b.length) ""
    else new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** RIFF/WAVE header probe: walks the chunk list for `fmt ` (sample
    * rate, channels, bits) and `data` (payload size → duration). Returns
    * None unless the RIFF/WAVE magic matches.
    */
  def probeWav(id: Long, b: Array[Byte]): Option[AvFeatures] = {
    if (b.length < 44 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return None
    // positions as Long and sizes kept unsigned: a corrupt 32-bit chunk
    // size must neither wrap the cursor backwards (infinite loop /
    // negative index on untrusted bytes) nor overflow Int
    var pos = 12L
    var rate = 0; var channels = 0; var bits = 0; var dataLen = -1L
    while (pos + 8 <= b.length && (rate == 0 || dataLen < 0)) {
      val p = pos.toInt
      val id4 = tag(b, p)
      val size = le32(b, p + 4) // unsigned 32-bit in a Long
      if (id4 == "fmt " && pos + 24 <= b.length) {
        channels = le16(b, p + 10)
        rate = le32(b, p + 12).toInt
        bits = le16(b, p + 22)
      } else if (id4 == "data") dataLen = size
      pos += 8L + size + (size & 1L) // chunks are 2-byte aligned
    }
    if (rate <= 0 || channels <= 0 || bits <= 0 || dataLen < 0) None
    else {
      val byteRate = rate.toLong * channels * bits / 8
      Some(AvFeatures(id, "wav", b.length, rate, channels, bits,
        dataLen * 1000L / byteRate))
    }
  }

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  /** ISO-BMFF (MP4) header probe: walks top-level boxes to `moov`, then
    * its children to `mvhd` (v0 or v1) for timescale + duration, and
    * descends `trak/mdia/minf/stbl/stsd` to the `mp4a` AudioSampleEntry
    * for sample rate (16.16 fixed), channel count, and sample size —
    * the codec-box descent round 3 deliberately deferred. Streams with
    * no audio trak report rate/channels/bits 0.
    */
  def probeMp4(id: Long, b: Array[Byte]): Option[AvFeatures] = {
    if (b.length < 16 || tag(b, 4) != "ftyp") return None
    // Long cursor: a crafted box size ≥ 2^31 must walk off the end and
    // stop, not wrap negative and index the array out of bounds; a
    // size < 8 aborts the walk (progress guarantee on untrusted bytes)
    def boxes(from: Long, until: Long): List[(String, Int, Int)] = {
      val out = List.newBuilder[(String, Int, Int)]
      var pos = from
      var ok = pos >= 0
      while (ok && pos + 8 <= until) {
        val size = be32(b, pos.toInt) // unsigned 32-bit in a Long
        if (size < 8) ok = false
        else {
          out += ((tag(b, pos.toInt + 4), (pos + 8).toInt,
            math.min(until, pos + size).toInt))
          pos += size
        }
      }
      out.result()
    }
    def findBox(from: Long, until: Long, name: String): Option[(Int, Int)] =
      boxes(from, until).collectFirst { case (`name`, s, e) => (s, e) }
    for {
      (moovStart, moovEnd) <- findBox(0, b.length, "moov")
      (mvhdStart, mvhdEnd) <- findBox(moovStart, moovEnd, "mvhd")
      if mvhdStart + 4 <= mvhdEnd
    } yield {
      val version = b(mvhdStart) & 0xff
      val (timescale, duration) =
        if (version == 1 && mvhdStart + 32 <= mvhdEnd)
          (be32(b, mvhdStart + 20), be64(b, mvhdStart + 24))
        else (be32(b, mvhdStart + 12), be32(b, mvhdStart + 16))
      // AudioSampleEntry layout after the mp4a box header: 6 reserved +
      // 2 data_reference_index + 8 reserved, then channelcount(2),
      // samplesize(2), pre_defined(2), reserved(2), samplerate as
      // 16.16 fixed(4) — 28 bytes total. First audio trak wins.
      val audio = boxes(moovStart, moovEnd).iterator
        .collect { case ("trak", ts, te) => (ts, te) }
        .flatMap { case (ts, te) =>
          for {
            (mdS, mdE) <- findBox(ts, te, "mdia")
            (mfS, mfE) <- findBox(mdS, mdE, "minf")
            (sbS, sbE) <- findBox(mfS, mfE, "stbl")
            (sdS, sdE) <- findBox(sbS, sbE, "stsd")
            // stsd payload: version+flags(4) + entry_count(4), then
            // sample-entry boxes
            (aS, aE) <- findBox(sdS + 8L, sdE, "mp4a")
            if aS + 28 <= aE
          } yield (
            (be32(b, aS + 24) >>> 16).toInt, // samplerate 16.16 → integer part
            be16(b, aS + 16), // channelcount
            be16(b, aS + 18)) // samplesize
        }
        .take(1).toList.headOption
      val (rate, channels, bits) = audio.getOrElse((0, 0, 0))
      AvFeatures(id, "mp4", b.length, rate, channels, bits,
        if (timescale > 0) duration * 1000L / timescale else 0L)
    }
  }

  /** WAV first, MP4 second, honest "unknown" fallback. */
  def probeAv(id: Long, bytes: Array[Byte]): AvFeatures =
    probeWav(id, bytes).orElse(probeMp4(id, bytes))
      .getOrElse(AvFeatures(id, "unknown", bytes.length, 0, 0, 0, 0L))

  /** Deterministic 16-bit PCM WAV fixture (sawtooth payload). */
  def syntheticWav(sampleRate: Int, channels: Int, nSamples: Int): Array[Byte] = {
    val dataLen = nSamples * channels * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    out.put("fmt ".getBytes).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16)
    out.put("data".getBytes).putInt(dataLen)
    var i = 0
    while (i < nSamples * channels) { out.putShort(((i * 257) % 32768).toShort); i += 1 }
    out.array()
  }

  /** Deterministic minimal MP4 fixture: `ftyp` + `moov`/`mvhd` (v0),
    * no audio trak (probes report rate/channels/bits 0).
    */
  def syntheticMp4(timescale: Int, duration: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(16 + 8 + 108)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    out.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    out.putInt(116).put("moov".getBytes)
    out.putInt(108).put("mvhd".getBytes)
    out.putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // creation/modification
      .putInt(timescale).putInt(duration)
    // rate/volume/reserved/matrix/predefined/next_track: zeros suffice
    out.array()
  }

  /** Deterministic MP4 fixture WITH a minimal audio trak:
    * `ftyp` + `moov`/(`mvhd` + `trak/mdia/minf/stbl/stsd/mp4a`) — the
    * AudioSampleEntry carries the given sample rate (16.16 fixed),
    * channel count, and 16-bit samples, exercising the full `stsd`
    * descent of [[probeMp4]]. 216 bytes total.
    */
  def syntheticMp4(
      timescale: Int, duration: Int,
      sampleRate: Int, channels: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(216)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    out.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    out.putInt(200).put("moov".getBytes)
    out.putInt(108).put("mvhd".getBytes)
    out.putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // creation/modification
      .putInt(timescale).putInt(duration)
    out.position(out.position() + 80) // rest of mvhd: zeros suffice
    out.putInt(84).put("trak".getBytes)
    out.putInt(76).put("mdia".getBytes)
    out.putInt(68).put("minf".getBytes)
    out.putInt(60).put("stbl".getBytes)
    out.putInt(52).put("stsd".getBytes)
    out.putInt(0).putInt(1) // stsd version+flags, entry_count = 1
    out.putInt(36).put("mp4a".getBytes)
    out.putInt(0).putShort(0) // 6 reserved bytes
      .putShort(1) // data_reference_index
      .putLong(0L) // 8 reserved bytes
      .putShort(channels.toShort)
      .putShort(16) // samplesize
      .putShort(0).putShort(0) // pre_defined + reserved
      .putInt(sampleRate << 16) // 16.16 fixed
    out.array()
  }

  /** Batched AV probe over (id, payload) rows — same per-partition shape
    * as [[extract]].
    */
  def probe(media: Dataset[(Long, Array[Byte])]): Dataset[AvFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { case (id, bytes) => probeAv(id, bytes) })
  }

  /** Batched feature extraction over (id, payload) binary rows — the
    * Scala analogue of a pandas-UDF `mapInPandas` stage: per-partition
    * batching, columnar-friendly output schema, no driver involvement.
    */
  def extract(media: Dataset[(Long, Array[Byte])]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { case (id, bytes) => decode(id, bytes) })
  }
}
