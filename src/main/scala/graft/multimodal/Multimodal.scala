package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.ByteArrayInputStream

/** Multimodal column plumbing for training-data pipelines.
  *
  * Media (image/audio/video) is carried as an opaque `binary` column with a
  * typed metadata struct. Decode is REAL: images are genuine BMP and PNG
  * containers (JPEG supported too, spec-exercised) routed by magic bytes to
  * `javax.imageio.ImageIO` readers, audio is genuine WAV (PCM) parsed by
  * `javax.sound.sampled.AudioSystem`, video is a length-prefixed frame
  * container demuxed and frame-decoded through ImageIO. The media bytes are
  * synthesized deterministically from `doc_id` (no external files in this
  * environment), so every decoded feature is reproducible by the SQL oracle
  * from the generation rule — a wrong header offset, row padding or sample
  * width in the decode path breaks the oracle match.
  *
  * Batch shape mirrors Arrow-batch UDF execution (`mapInPandas`): decoding
  * runs partition-local in fixed-size batches so codec init is amortized per
  * batch, not per row.
  */
object Multimodal {

  val ImgW = 8
  val ImgH = 8
  val WavSamples = 256
  val WavRate = 8000
  val VideoFrames = 4

  // ---------------------------------------------------------------------
  // deterministic synthesis (REAL containers)
  // ---------------------------------------------------------------------

  /** gray value of pixel (x, y) of frame `f` for document `docId` */
  def gray(docId: Long, f: Int, x: Int, y: Int): Int =
    (((docId * 31 + f * 17 + x * 7 + y * 13) % 256).toInt + 256) % 256

  /** unsigned 8-bit PCM sample i for document `docId` */
  def sample(docId: Long, i: Int): Int = (((docId * 7 + i * 3) % 256).toInt + 256) % 256

  /** A real 8x8 24-bit BMP: 54-byte BITMAPINFOHEADER container, BGR rows
    * padded to 4 bytes, stored bottom-up — exactly what ImageIO's BMP
    * reader expects.
    */
  def encodeBmp(docId: Long, frame: Int): Array[Byte] = {
    val rowBytes = ((ImgW * 3 + 3) / 4) * 4 // padded
    val dataSize = rowBytes * ImgH
    val size = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(ImgW).putInt(ImgH).putShort(1).putShort(24)
    b.putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = ImgH - 1 // bottom-up
    while (y >= 0) {
      var x = 0
      while (x < ImgW) {
        val v = gray(docId, frame, x, y).toByte
        b.put(v).put(v).put(v)
        x += 1
      }
      var pad = ImgW * 3
      while (pad < rowBytes) { b.put(0.toByte); pad += 1 }
      y -= 1
    }
    b.array()
  }

  /** A real grayscale 8-bit PNG with STORED (uncompressed) deflate blocks —
    * spec-conformant (zlib permits stored blocks; ImageIO's PNG reader
    * decodes it like any other PNG) and, unlike a compressing encoder,
    * byte-length CLOSED-FORM: 8 (signature) + 25 (IHDR) + 12 + [2 zlib
    * header + 5·⌈L/65535⌉ stored-block headers + L + 4 adler] (IDAT, with
    * L = H·(W+1) filtered scanline bytes) + 12 (IEND) — 140 bytes at 8×8,
    * which is what lets the SQL oracle pin `n_bytes` for PNG rows exactly
    * as it pins 246 for BMP.
    */
  def encodePng(docId: Long, frame: Int): Array[Byte] =
    encodePngFromPixels(Array.tabulate(ImgH, ImgW)((y, x) => gray(docId, frame, x, y)))

  /** Encode a gray matrix (top-down) as a real stored-deflate PNG. */
  def encodePngFromPixels(px: Array[Array[Int]]): Array[Byte] = {
    val h = px.length
    val w = px.head.length
    // filtered scanlines: filter byte 0 (None) + gray bytes per row
    val raw = new Array[Byte](h * (w + 1))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raw(y * (w + 1) + 1 + x) = px(y)(x).toByte; x += 1 }
      y += 1
    }
    // zlib stream: 0x78 0x01 header, stored deflate blocks, adler32
    val zlib = new java.io.ByteArrayOutputStream()
    zlib.write(0x78); zlib.write(0x01)
    var off = 0
    while (off < raw.length) {
      val n = math.min(65535, raw.length - off)
      val last = if (off + n >= raw.length) 1 else 0
      zlib.write(last)
      zlib.write(n & 0xFF); zlib.write((n >> 8) & 0xFF)
      zlib.write(~n & 0xFF); zlib.write((~n >> 8) & 0xFF)
      zlib.write(raw, off, n)
      off += n
    }
    val adler = new java.util.zip.Adler32()
    adler.update(raw)
    val ad = adler.getValue
    zlib.write(((ad >> 24) & 0xFF).toInt); zlib.write(((ad >> 16) & 0xFF).toInt)
    zlib.write(((ad >> 8) & 0xFF).toInt); zlib.write((ad & 0xFF).toInt)

    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length) // big-endian default
        .putInt(data.length).put(typ.getBytes).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte) // bit depth
      .put(0.toByte) // color type 0: grayscale
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, none, no interlace
      .array()
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zlib.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** A real 44-byte-header WAV, 8-bit unsigned mono PCM at 8 kHz. */
  def encodeWav(docId: Long): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44 + WavSamples).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + WavSamples).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
    b.putInt(WavRate).putInt(WavRate).putShort(1).putShort(8)
    b.put("data".getBytes).putInt(WavSamples)
    var i = 0
    while (i < WavSamples) { b.put(sample(docId, i).toByte); i += 1 }
    b.array()
  }

  /** Encode unsigned 8-bit samples as a real 44-byte-header PCM WAV. */
  def encodeWavFromSamples(samples: Array[Int], rate: Int): Array[Byte] = {
    val n = samples.length
    val b = java.nio.ByteBuffer.allocate(44 + n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + n).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
    b.putInt(rate).putInt(rate).putShort(1).putShort(8)
    b.put("data".getBytes).putInt(n)
    var i = 0
    while (i < n) { b.put(samples(i).toByte); i += 1 }
    b.array()
  }

  /** G.711 µ-law compression of a 16-bit linear sample — the COMPRESSED
    * audio leg of the mixed column. The codec is closed-form integer
    * arithmetic, and Java's `AudioSystem` ULAW decoder reproduces the
    * decode formula bit-exactly for all 256 codes (probed), which is what
    * lets the SQL oracle replay encode→decode and pin the decoded features
    * exactly despite the lossy companding.
    */
  def ulawEncode(pcm: Int): Int = {
    val bias = 0x84
    val sign = if (pcm < 0) 0x80 else 0
    val mag = math.min(math.abs(pcm) + bias, 32635)
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (mag & mask) == 0) { exp -= 1; mask >>= 1 }
    val man = (mag >> (exp + 3)) & 0x0F
    ~(sign | (exp << 4) | man) & 0xFF
  }

  /** the closed-form G.711 expansion (what AudioSystem computes) */
  def ulawDecode(code: Int): Int = {
    val u = ~code & 0xFF
    val mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    if ((u & 0x80) != 0) -mag else mag
  }

  /** 16-bit linear sample i for document `docId` (centered 8-bit rule) */
  def pcm16(docId: Long, i: Int): Int = (sample(docId, i) - 128) * 256

  /** A real µ-law WAV: 18-byte fmt chunk (format tag 7, cbSize 0), 8-bit
    * companded mono at 8 kHz — 302 bytes at 256 samples (12 RIFF + 26 fmt +
    * 8 data header + 256), the closed form the oracle pins.
    */
  def encodeUlawWav(docId: Long): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(12 + 26 + 8 + WavSamples)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(4 + 26 + 8 + WavSamples).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(18).putShort(7).putShort(1)
    b.putInt(WavRate).putInt(WavRate).putShort(1).putShort(8).putShort(0)
    b.put("data".getBytes).putInt(WavSamples)
    var i = 0
    while (i < WavSamples) { b.put(ulawEncode(pcm16(docId, i)).toByte); i += 1 }
    b.array()
  }

  /** Frame container: "GRFV" magic, int32 frame count, then length-prefixed
    * BMP frames (a minimal demuxable video stand-in).
    */
  def encodeVideo(docId: Long): Array[Byte] = {
    val frames = (0 until VideoFrames).map(f => encodeBmp(docId, f))
    val b = java.nio.ByteBuffer.allocate(8 + frames.map(_.length + 4).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("GRFV".getBytes).putInt(VideoFrames)
    frames.foreach { fr => b.putInt(fr.length); b.put(fr) }
    b.array()
  }

  // ---------------------------------------------------------------------
  // REAL decode
  // ---------------------------------------------------------------------

  /** A reusable magic-byte-routed ImageIO decoder: the container format is
    * sniffed from the leading bytes (PNG `\x89PNG`, JPEG `\xFF\xD8`, BMP
    * `BM` — what a real crawl's image column looks like) and dispatched to a
    * per-format reader cached on first use, so plugin lookup happens once
    * per (instance, format), not per row. Input streams stay in memory (no
    * ImageIO temp files) — per-call `ImageIO.read` costs ~2 ms in plugin
    * scan + file-cache setup, which dominated the decode path at scale.
    */
  final class ImageDecoder {
    javax.imageio.ImageIO.setUseCache(false)
    private val readers = scala.collection.mutable.Map.empty[String, javax.imageio.ImageReader]
    private def readerFor(fmt: String) = readers.getOrElseUpdate(fmt,
      javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next())

    /** container format by magic bytes ("bmp" | "png" | "jpeg") */
    def formatOf(bytes: Array[Byte]): String =
      if (bytes.length >= 4 && (bytes(0) & 0xFF) == 0x89 &&
        bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') "png"
      else if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFF &&
        (bytes(1) & 0xFF) == 0xD8) "jpeg"
      else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') "bmp"
      else throw new IllegalArgumentException("unrecognized image container magic")

    def decode(bytes: Array[Byte]): Array[Array[Int]] = {
      val reader = readerFor(formatOf(bytes))
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis, true, true)
        val img = reader.read(0)
        // single-component (gray) images read RAW raster samples: getRGB
        // would push them through a gray→sRGB color-space conversion (a
        // gamma lift, 22 → 83) and break the decode-equals-generation-rule
        // contract; RGB images take the blue channel as before (gray
        // triplets carry the same value in every channel)
        if (img.getColorModel.getNumComponents == 1) {
          val raster = img.getRaster
          Array.tabulate(img.getHeight, img.getWidth)((y, x) => raster.getSample(x, y, 0))
        } else
          Array.tabulate(img.getHeight, img.getWidth)((y, x) => img.getRGB(x, y) & 0xFF)
      } finally iis.close()
    }
  }

  /** decode any supported container through ImageIO (magic-byte routed) and
    * return the gray matrix (top-down)
    */
  def decodeImage(bytes: Array[Byte]): Array[Array[Int]] = new ImageDecoder().decode(bytes)

  /** Decode a WAV through AudioSystem: (sampleRate, samples, encoding).
    * PCM8 returns unsigned samples 0..255 with encoding "pcm8"; µ-law
    * containers are EXPANDED through AudioSystem's ULAW→PCM16 converter
    * (the real decompression path) and return signed 16-bit samples with
    * encoding "ulaw".
    */
  def decodeAudio(bytes: Array[Byte]): (Float, Array[Int], String) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    val fmt = in.getFormat
    if (fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.ULAW) {
      val pcmFmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        fmt.getSampleRate, 16, 1, 2, fmt.getSampleRate, false)
      val dec = javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, in)
      val data = dec.readAllBytes()
      (fmt.getSampleRate,
        Array.tabulate(data.length / 2)(i => (data(2 * i + 1).toInt << 8) | (data(2 * i) & 0xFF)),
        "ulaw")
    } else (fmt.getSampleRate, in.readAllBytes().map(_ & 0xFF), "pcm8")
  }

  /** demux the frame container and ImageIO-decode every frame */
  def decodeVideo(bytes: Array[Byte]): Seq[Array[Array[Int]]] =
    decodeVideoWith(bytes, new ImageDecoder())

  private def decodeVideoWith(bytes: Array[Byte], dec: ImageDecoder): Seq[Array[Array[Int]]] = {
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); b.get(magic)
    require(new String(magic) == "GRFV", "bad video container magic")
    val n = b.getInt
    (0 until n).map { _ =>
      val len = b.getInt
      val fr = new Array[Byte](len); b.get(fr)
      dec.decode(fr)
    }
  }

  // ---------------------------------------------------------------------
  // Spark plumbing
  // ---------------------------------------------------------------------

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** Energy-based voice-activity detection over audio-kind rows — the
    * audio-curation stage (silence trimming / speech-ratio filters) of a
    * multimodal pipeline. REAL decode (AudioSystem, both codecs), then
    * per-frame integer energy: PCM8 samples center to the 16-bit domain
    * ((s-128)·256, the same widening [[encodeUlawWav]] compands from),
    * µ-law samples are already expanded 16-bit — so both codec families
    * are thresholded on one scale. A frame is ACTIVE when its energy
    * strictly exceeds the per-document mean frame energy (integer floor —
    * engine-replayable, no float accumulation), and a segment is a maximal
    * run of active frames.
    *
    * Batch shape matches [[extractFeatures]]: partition-local, fixed-size
    * batches; per-row output is a constant-width summary, so 100 TB of
    * audio maps to a scan-speed projection with no shuffle at all.
    *
    * Returns (doc_id, n_frames, n_active, n_segments, speech_ratio).
    */
  def audioVad(media: DataFrame, frameSize: Int = 32, batchSize: Int = 64): DataFrame = {
    require(frameSize > 0, "frameSize must be positive")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("n_frames", IntegerType),
      StructField("n_active", IntegerType), StructField("n_segments", IntegerType),
      StructField("speech_ratio", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.filter(col("kind") === "audio").select(col("doc_id"), col("content"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val (_, samples, audioEnc) = decodeAudio(r.getAs[Array[Byte]]("content"))
            val centered: Array[Long] =
              if (audioEnc == "ulaw") samples.map(_.toLong)
              else samples.map(s => ((s - 128) * 256).toLong)
            val energies = centered.grouped(frameSize)
              .map(f => f.map(v => v * v).sum).toArray
            val n = energies.length
            val theta = energies.sum / n // integer floor mean — replayable
            val active = energies.map(_ > theta)
            val nActive = active.count(identity)
            val nSeg = active.zipWithIndex.count {
              case (a, i) => a && (i == 0 || !active(i - 1))
            }
            Row(id, n, nActive, nSeg,
              math.round(nActive.toDouble / n * 10000).toDouble / 10000)
          }
        }
      }(enc)
      .toDF()
  }

  /** Decimating audio resample over audio-kind rows — the audio analog of
    * [[resizeImages]]: REAL decode (both codec families), keep every
    * `factor`-th sample, re-encode as a REAL PCM8 WAV at `rate/factor`.
    * µ-law input requantizes its expanded 16-bit samples to unsigned 8-bit
    * by floor division (`(v >> 8) + 128` — arithmetic shift = floor-by-256,
    * exactly replayable by any engine's integer `//`), so the output column
    * is UNIFORM PCM8 regardless of input codec — the normalize-on-ingest
    * step an audio training pipeline runs before featurization.
    *
    * Returns (doc_id, out_rate, n_samples, content, mean) — `content` is
    * the re-encoded WAV (spec round-trips it through AudioSystem), `mean`
    * the decoded-domain mean of the kept samples.
    */
  def resampleAudio(media: DataFrame, factor: Int, batchSize: Int = 64): DataFrame = {
    require(factor > 0, "factor must be positive")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("out_rate", IntegerType),
      StructField("n_samples", IntegerType), StructField("content", BinaryType),
      StructField("mean", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.filter(col("kind") === "audio").select(col("doc_id"), col("content"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val (rate, samples, audioEnc) = decodeAudio(r.getAs[Array[Byte]]("content"))
            val eight: Array[Int] =
              if (audioEnc == "ulaw") samples.map(v => (v >> 8) + 128)
              else samples
            val kept = Array.range(0, eight.length, factor).map(eight)
            val outRate = rate.toInt / factor
            Row(r.getLong(0), outRate, kept.length,
              encodeWavFromSamples(kept, outRate),
              kept.sum.toDouble / kept.length / 255.0)
          }
        }
      }(enc)
      .toDF()
  }

  /** Build a media table from the documents table: kind rotates by doc_id,
    * content is a genuinely-encoded container (BMP / WAV / frame container),
    * synthesized deterministically per row, distributed (partition-local).
    */
  def mediaTable(documents: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(mediaSchema)
    documents.select(col("doc_id"), col("source"), col("n_chars"))
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          // image rows alternate containers (doc_id % 6 == 0 → BMP,
          // == 3 → PNG) and audio rows alternate codecs (== 1 → linear
          // PCM, == 4 → µ-law compressed): the decode path sees a
          // MIXED-format column and must route by container sniffing,
          // like a real crawl
          val (kind, bytes) = (id % 3) match {
            case 0 => ("image", if (id % 6 == 0) encodeBmp(id, 0) else encodePng(id, 0))
            case 1 => ("audio", if (id % 6 == 1) encodeWav(id) else encodeUlawWav(id))
            case _ => ("video", encodeVideo(id))
          }
          Row(id, kind, bytes, Map("source" -> r.getString(1), "n_chars" -> r.get(2).toString))
        }
      }(enc)
      .toDF()
  }

  /** Decode + feature-extract over the media table — partition-local in
    * fixed-size batches. Features (all derived from DECODED pixels/samples,
    * never from doc_id):
    *  image: f0=width, f1=height, f2=mean gray/255, f3=max gray/255
    *  audio: f0=sample rate, f1=sample count, f2=mean/255, f3=max/255
    *  video: f0=frame count, f1=frame width, f2=mean gray of frame 0/255,
    *         f3=mean of per-frame means/255
    */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("kind", StringType),
      StructField("n_bytes", IntegerType),
      StructField("f0", DoubleType), StructField("f1", DoubleType),
      StructField("f2", DoubleType), StructField("f3", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select(col("doc_id"), col("kind"), col("content"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // codec init amortizes per batch: ONE ImageIO reader instance
          // serves the whole batch (plugin lookup + stream setup per call is
          // what makes naive per-row ImageIO.read ~50x slower)
          val dec = new ImageDecoder()
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val kind = r.getString(1)
            val bytes = r.getAs[Array[Byte]]("content")
            val (f0, f1, f2, f3) = kind match {
              case "image" =>
                val px = dec.decode(bytes)
                val flat = px.flatten
                (px.head.length.toDouble, px.length.toDouble,
                  flat.sum.toDouble / flat.length / 255.0,
                  flat.max.toDouble / 255.0)
              case "audio" =>
                // µ-law rows normalize over the EXPANDED 16-bit range (the
                // signed mean can be negative); PCM8 keeps the 0..255 scale
                val (rate, samples, audioEnc) = decodeAudio(bytes)
                val scale = if (audioEnc == "ulaw") 32768.0 else 255.0
                (rate.toDouble, samples.length.toDouble,
                  samples.sum.toDouble / samples.length / scale,
                  samples.max.toDouble / scale)
              case _ =>
                val frames = decodeVideoWith(bytes, dec)
                val means = frames.map(px => { val f = px.flatten; f.sum.toDouble / f.length / 255.0 })
                (frames.length.toDouble, frames.head.head.length.toDouble,
                  means.head, means.sum / means.length)
            }
            Row(id, kind, bytes.length, f0, f1, f2, f3)
          }
        }
      }(enc)
      .toDF()
  }

  /** Decode + score each sampled frame from [[sampleFrames]] — the
    * per-frame stage of a video-curation pipeline (blur/black-frame
    * filtering, frame-level dedup keys): REAL BMP decode per frame,
    * batch-pooled decoder like [[extractFeatures]], stats from decoded
    * pixels only.
    *
    * Returns (doc_id, frame_no, n_bytes, mean_px, max_px) with the pixel
    * stats normalized to [0, 1].
    */
  def frameFeatures(frames: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("frame_no", IntegerType),
      StructField("n_bytes", IntegerType),
      StructField("mean_px", DoubleType), StructField("max_px", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    frames.select(col("doc_id"), col("frame_no"), col("frame_bytes"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val dec = new ImageDecoder()
          batch.iterator.map { r =>
            val bytes = r.getAs[Array[Byte]]("frame_bytes")
            val px = dec.decode(bytes)
            val flat = px.flatten
            Row(r.getLong(0), r.getInt(1), bytes.length,
              flat.sum.toDouble / flat.length / 255.0,
              flat.max.toDouble / 255.0)
          }
        }
      }(enc)
      .toDF()
  }

  /** Encode a gray matrix (top-down) back into a real BMP container. */
  /** Perceptual average-hash (aHash) of each image row: REAL decode
    * through the pooled reader, then one bit per pixel — set iff the
    * pixel is at or above the image mean, with the threshold evaluated as
    * the exact integer cross-product `px·n ≥ Σpx` (no float mean, so the
    * hash is engine-reproducible bit for bit). The standard cheap
    * image-dedup fingerprint: re-encodes, container changes, and small
    * pixel edits move only a few bits, so near-duplicate images sit at
    * small Hamming distance.
    *
    * Returns (doc_id, hash_hi, hash_lo) — the 64 bits split across two
    * longs (bit i of the flattened row-major image in `lo` for i<32,
    * else `hi`), keeping every value positive in engines without
    * unsigned 64-bit.
    */
  def imageHashes(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("hash_hi", LongType), StructField("hash_lo", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.filter(col("kind") === "image").select(col("doc_id"), col("content"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val dec = new ImageDecoder()
          batch.iterator.map { r =>
            val flat = dec.decode(r.getAs[Array[Byte]](1)).flatten
            val total = flat.map(_.toLong).sum
            var hi = 0L; var lo = 0L; var i = 0
            while (i < flat.length && i < 64) {
              if (flat(i).toLong * flat.length >= total) {
                if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
              }
              i += 1
            }
            Row(r.getLong(0), hi, lo)
          }
        }
      }(enc).toDF()
  }

  /** Hamming near-duplicate pairs over [[imageHashes]] via the pigeonhole
    * multi-index: the 64 bits split into four 16-bit bands — any pair
    * within Hamming distance 3 agrees on at least one band exactly, so
    * candidates come from a plain equi-join on (band, slice) and only
    * survivors pay the exact `bit_count(xor)` check. The image twin of
    * MinHash banding: never an all-pairs comparison, one shuffle on the
    * band key.
    *
    * Returns (id_a, id_b, hamming) with hamming ≤ `maxHamming` (≤ 3 —
    * the 4-band scheme's guarantee).
    */
  def imageDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "the 4-band pigeonhole catches hamming <= 3; raise the band count for more")
    val b = hashes.select(col("doc_id"), posexplode(array(
        col("hash_lo").bitwiseAND(lit(65535L)),
        shiftright(col("hash_lo"), 16).bitwiseAND(lit(65535L)),
        col("hash_hi").bitwiseAND(lit(65535L)),
        shiftright(col("hash_hi"), 16).bitwiseAND(lit(65535L))))
        .as(Seq("__j", "__v")))
      .select(col("doc_id"), (col("__j") * 65536L + col("__v")).as("__bk"))
    val cand = graft.core.Joins.bucketPairs(b, Seq("__bk"), "doc_id")
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(hashes.select(col("doc_id").as("id_a"),
        col("hash_hi").as("__ha"), col("hash_lo").as("__la")), Seq("id_a"))
      .join(hashes.select(col("doc_id").as("id_b"),
        col("hash_hi").as("__hb"), col("hash_lo").as("__lb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("__ha").bitwiseXOR(col("__hb"))) +
          bit_count(col("__la").bitwiseXOR(col("__lb")))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Deterministically perturbed image copies — decode, shift pixel (0,0)
    * by +128 mod 256, re-encode as a REAL BMP under `doc_id + idOffset`:
    * the constructed near-duplicates that give [[imageDupPairs]] genuine
    * positives to find (a re-crawled image with a changed watermark pixel,
    * in miniature). Same mediaSchema, so the output unions with the
    * original table.
    */
  def perturbedCopies(media: DataFrame, every: Long = 30,
                      idOffset: Long = 1000000L, batchSize: Int = 64): DataFrame = {
    require(every > 0 && idOffset > 0, "every and idOffset must be positive")
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(mediaSchema)
    media.filter(col("kind") === "image" && col("doc_id") % every === 0)
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val dec = new ImageDecoder()
          batch.iterator.map { r =>
            val px = dec.decode(r.getAs[Array[Byte]]("content"))
            px(0)(0) = (px(0)(0) + 128) % 256
            Row(r.getLong(0) + idOffset, "image", encodeBmpFromPixels(px),
              r.getAs[Map[String, String]]("meta"))
          }
        }
      }(enc).toDF()
  }

  def encodeBmpFromPixels(px: Array[Array[Int]]): Array[Byte] = {
    val h = px.length
    val w = px.head.length
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val dataSize = rowBytes * h
    val size = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    b.putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1
    while (y >= 0) {
      var x = 0
      while (x < w) { val v = px(y)(x).toByte; b.put(v).put(v).put(v); x += 1 }
      var pad = w * 3
      while (pad < rowBytes) { b.put(0.toByte); pad += 1 }
      y -= 1
    }
    b.array()
  }

  /** Resize image-kind rows: REAL decode → nearest-neighbor resample →
    * re-encode as a real BMP. Partition-local in batches with one pooled
    * decoder (same shape as extractFeatures); output carries the resized
    * container plus decoded-side stats so the transformation is checkable
    * end to end.
    */
  def resizeImages(media: DataFrame, outW: Int, outH: Int, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("width", IntegerType),
      StructField("height", IntegerType), StructField("content", BinaryType),
      StructField("mean_gray", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.filter(org.apache.spark.sql.functions.col("kind") === "image")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("content"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val dec = new ImageDecoder()
          batch.iterator.map { r =>
            val src = dec.decode(r.getAs[Array[Byte]]("content"))
            val (srcH, srcW) = (src.length, src.head.length)
            val resized = Array.tabulate(outH, outW)((y, x) =>
              src(y * srcH / outH)(x * srcW / outW)) // nearest neighbor
            val flat = resized.flatten
            Row(r.getLong(0), outW, outH, encodeBmpFromPixels(resized),
              flat.sum.toDouble / flat.length / 255.0)
          }
        }
      }(enc)
      .toDF()
  }

  /** Per-frame perceptual hash over [[sampleFrames]] output: the
    * [[imageHashes]] aHash (exact integer threshold `px·n ≥ Σpx`) applied
    * to each demuxed frame — the per-frame dedup/scene key.
    *
    * Returns (doc_id, frame_no, hash_hi, hash_lo).
    */
  def frameHashes(frames: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("frame_no", IntegerType),
      StructField("hash_hi", LongType), StructField("hash_lo", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    frames.select(col("doc_id"), col("frame_no"), col("frame_bytes"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val dec = new ImageDecoder()
          batch.iterator.map { r =>
            val flat = dec.decode(r.getAs[Array[Byte]]("frame_bytes")).flatten
            val total = flat.map(_.toLong).sum
            var hi = 0L; var lo = 0L; var i = 0
            while (i < flat.length && i < 64) {
              if (flat(i).toLong * flat.length >= total) {
                if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
              }
              i += 1
            }
            Row(r.getLong(0), r.getInt(1), hi, lo)
          }
        }
      }(enc).toDF()
  }

  /** Scene-cut detection: Hamming distance between consecutive frames'
    * perceptual hashes, flagged where it reaches `threshold` — the shot
    * segmentation step of a video-curation pipeline (sample one keyframe
    * per shot instead of per fixed stride). A hard cut replaces most of
    * the image, so half the hash bits flip; smooth motion moves a few.
    *
    * Scale shape: REAL decode runs partition-local through the pooled
    * reader ([[frameHashes]]), then ONE video-keyed lag window over the
    * per-frame hash table (frames-per-video partitions, the
    * sessionization discipline) — pixels never shuffle, only 2 longs per
    * frame do. Hamming is exact `bit_count(xor)` on the split halves.
    *
    * Returns (doc_id, frame_no, hamming, is_cut) for frame_no ≥ 1.
    */
  def sceneCuts(frames: DataFrame, threshold: Int = 16,
                batchSize: Int = 64): DataFrame = {
    require(threshold >= 0, "threshold must be non-negative")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_no"))
    frameHashes(frames, batchSize)
      .withColumn("__phi", lag(col("hash_hi"), 1).over(w))
      .withColumn("__plo", lag(col("hash_lo"), 1).over(w))
      .filter(col("__phi").isNotNull)
      .select(col("doc_id"), col("frame_no"),
        (bit_count(expr("hash_hi ^ __phi")) + bit_count(expr("hash_lo ^ __plo")))
          .cast("int").as("hamming"))
      .withColumn("is_cut", col("hamming") >= threshold)
  }

  /** Per-video shot summary over a [[sceneCuts]] frame — the clip-level
    * curation signal (a video with zero cuts is a static card or a slide; a
    * cut every frame is strobing garbage; the mean inter-frame hash
    * distance is a cheap motion-energy proxy). ONE map-side-combined
    * rollup of the already-tiny per-frame table; the mean is a single IEEE
    * divide of exact integers, 4dp.
    *
    * Returns (doc_id, n_pairs, n_cuts, mean_hamming).
    */
  def shotSummary(cuts: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    cuts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"),
        sum(col("hamming").cast("long")).as("__h"))
      .select(col("doc_id"), col("n_pairs"), col("n_cuts"),
        round((col("__h").cast("double") / col("n_pairs").cast("double")).cast(dec), 4)
          .cast("double").as("mean_hamming"))
  }

  /** Frame sampling for video-kind rows: demux offsets of the length-prefixed
    * container are fixed (constant frame size), so frame extraction stays a
    * columnar substring — distributed and row-parallel, no decode needed for
    * the sampling step itself.
    */
  def sampleFrames(media: DataFrame): DataFrame = {
    val frameLen = 54 + ((ImgW * 3 + 3) / 4) * 4 * ImgH
    media.filter(col("kind") === "video")
      .withColumn("frame_no", explode(sequence(lit(0), lit(VideoFrames - 1))))
      .select(col("doc_id"), col("frame_no"),
        substring(col("content"),
          (lit(8 + 4) + col("frame_no") * (frameLen + 4) + 1).cast("int"),
          lit(frameLen)).as("frame_bytes"))
  }
}
