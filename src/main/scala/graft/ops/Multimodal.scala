package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque BINARY payloads
  * with typed metadata, and partition-wise decode stages.
  *
  * All three modalities now run REAL JDK codecs: PNG via javax.imageio
  * (m01/m02), WAV/RIFF via javax.sound + a lock-free chunk walker (m06),
  * and multi-frame animated GIF via the imageio GIF reader/writer
  * (m05/m07). The original byte-histogram STUB (`decodeStub`) is retained
  * only as the generic-binary stage surface (graft.media_features_v1) so
  * old wire plans stay decodable.
  *
  * Scale notes: mapPartitions keeps the decode batched per task with no
  * shuffle; payloads never leave their input partition. Feature arrays are
  * fixed-width, so downstream similarity joins shuffle 16·4 bytes per row,
  * not megabyte payloads.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])
  final case class MediaFeature(doc_id: Long, media_type: String, n_bytes: Int,
                                feature: Array[Float])

  /** Wrap a text table as a binary media table (payload = UTF-8 bytes — the
    * deterministic stand-in for real image/audio blobs in this container).
    */
  def asMediaTable(df: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    df.select(
      col(idCol).cast("long").as("doc_id"),
      // deterministic fake modality tag from the id
      when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      encode(col(textCol), "UTF-8").as("payload"))

  /** STUB decode: real implementations replace this with the codec call
    * (e.g. JPEG decode → pixels, PCM frames, video frame-sample). The stub is
    * deterministic: normalized 16-bin histogram of payload bytes.
    */
  private def decodeStub(payload: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](16)
    var i = 0
    while (i < payload.length) { bins((payload(i) & 0xff) >> 4) += 1f; i += 1 }
    val n = math.max(payload.length, 1).toFloat
    var b = 0
    while (b < 16) { bins(b) /= n; b += 1 }
    bins
  }

  /** THE stage function, as a stable instance: the wire registry
    * (substrait.Stages) binds the stage name to this exact object, so a
    * different mapPartitions closure — even one defined in this file — can
    * never silently encode as graft.media_features_v1.
    */
  val mediaFeaturesFn: Iterator[MediaRow] => Iterator[MediaFeature] =
    rows =>
      // per-task init hook (real codecs allocate decoder state here, once)
      rows.map { r =>
        MediaFeature(r.doc_id, r.media_type, r.payload.length,
          decodeStub(r.payload))
      }

  /** Partition-wise feature extraction over the binary payloads. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRow]
      .mapPartitions(mediaFeaturesFn)
  }

  // ------------------------------------------------------------------ REAL
  // image decode (round 8): PNG via JDK javax.imageio — an actual codec, no
  // external deps. The fixture has no image bytes, so payloads are
  // SYNTHESIZED deterministically per doc_id (real PNG encode, also
  // ImageIO), then decoded back through the full codec path; the DuckDB
  // oracle computes the expected geometry + luma from the generation rule,
  // so a decoder that mis-parses IHDR/IDAT fails certification.

  final case class IdRow(doc_id: Long)
  final case class ImgRow(doc_id: Long, payload: Array[Byte])
  final case class ImgFeature(doc_id: Long, width: Int, height: Int,
                              channels: Int, mean_luma: Double)
  final case class ImgLine(doc_id: Long, y: Int, line_bytes: Int,
                           line_luma: Double)

  /** Deterministic synthetic image parameters: w ∈ 1..13, h ∈ 1..13,
    * gray value of pixel k (row-major) = (doc_id·31 + k) mod 256. The
    * oracle replays exactly this rule.
    */
  private def imgWidth(id: Long): Int = (1 + (id % 7) * 2).toInt
  private def imgHeight(id: Long): Int = (1 + (id % 5) * 3).toInt
  private def imgGray(id: Long, k: Long): Int = ((id * 31 + k) % 256).toInt

  /** ImageIO's default stream cache is a TEMP FILE per read/write — disk
    * I/O and tmp-dir contention on every image (measured: 13× slower and
    * near-zero thread scaling at 32 tasks). Memory-cached streams restore
    * linear scaling. JVM-wide flag; idempotent per-task init.
    */
  private def imageIoInit(): Unit = javax.imageio.ImageIO.setUseCache(false)

  /** THE encode stage instance (wire name graft.png_encode_v1): doc_id →
    * real PNG bytes via ImageIO.write (TYPE_3BYTE_BGR, r=g=b=gray).
    */
  val pngEncodeFn: Iterator[IdRow] => Iterator[ImgRow] = rows => {
    imageIoInit()
    rows.map { r =>
      val (w, h) = (imgWidth(r.doc_id), imgHeight(r.doc_id))
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var k = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = imgGray(r.doc_id, k)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1; k += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      if (!javax.imageio.ImageIO.write(img, "png", bos))
        throw new IllegalStateException("no PNG writer available")
      ImgRow(r.doc_id, bos.toByteArray)
    }
  }

  /** THE decode stage instance (wire name graft.image_decode_v1): PNG bytes
    * → (width, height, channels, mean luma) via a REAL ImageIO.read — the
    * codec parses IHDR for geometry and inflates IDAT for pixels; mean luma
    * averages (r+g+b)/3 over the decoded raster.
    */
  val imageDecodeFn: Iterator[ImgRow] => Iterator[ImgFeature] = rows => {
    imageIoInit()
    rows.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      if (img == null)
        throw new IllegalArgumentException(
          s"undecodable image payload for doc ${r.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      var sum = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
          x += 1
        }
        y += 1
      }
      ImgFeature(r.doc_id, w, h, img.getRaster.getNumBands,
        sum / math.max(w * h, 1))
    }
  }

  /** THE scanline stage instance (wire name graft.image_scanlines_v1): one
    * output row per decoded image ROW — geometry (bytes per line from the
    * raster band count) and per-line mean luma. The decoded counterpart of
    * byte-level frame sampling.
    */
  val imageScanlinesFn: Iterator[ImgRow] => Iterator[ImgLine] = rows => {
    imageIoInit()
    rows.flatMap { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      if (img == null)
        throw new IllegalArgumentException(
          s"undecodable image payload for doc ${r.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      val bands = img.getRaster.getNumBands
      (0 until h).iterator.map { y =>
        var sum = 0.0
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
          x += 1
        }
        ImgLine(r.doc_id, y, w * bands, sum / math.max(w, 1))
      }
    }
  }

  // Audio: WAV/PCM via JDK javax.sound.sampled — a real container codec
  // (RIFF/fmt/data chunk parsing), same certification pattern as PNG:
  // deterministic synthetic signals, real encode, real decode, closed-form
  // oracle.

  final case class WavFeature(doc_id: Long, sample_rate: Int, channels: Int,
                              n_samples: Int, mean_abs: Double)

  /** Deterministic synthetic signal: n ∈ 64..192 samples, 16-bit PCM value
    * of sample k = ((doc_id·7 + k·13) mod 2048) − 1024.
    */
  private def wavSamples(id: Long): Int = (64 + id % 129).toInt
  private def wavSample(id: Long, k: Int): Int =
    ((id * 7 + k.toLong * 13) % 2048).toInt - 1024

  private def pcmOf(id: Long): Array[Byte] = {
    val n = wavSamples(id)
    val pcm = new Array[Byte](n * 2)
    var k = 0
    while (k < n) {
      val v = wavSample(id, k)
      pcm(2 * k) = (v & 0xff).toByte
      pcm(2 * k + 1) = ((v >> 8) & 0xff).toByte
      k += 1
    }
    pcm
  }

  /** RIFF/WAVE container for mono 16-bit LE PCM @8kHz. Hand-rolled on the
    * HOT path because javax.sound's AudioSystem dispatch serializes under
    * concurrency (measured: 32 threads encode+decode SLOWER than 1 thread —
    * the provider registry is a synchronized singleton, and the m06 query
    * ran α = 1.31 superlinear at 30× data because of it). The JDK codec
    * stays in the loop as a per-partition CANARY: the first row of every
    * partition is encoded by BOTH writers (bytes must be identical) and
    * decoded by BOTH parsers (features must agree), so a divergence from
    * the real codec fails the whole query loudly.
    */
  private def riffEncode(pcm: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(44 + pcm.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + pcm.length)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(8000) // sample rate
      .putInt(8000 * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
    out.put("data".getBytes("US-ASCII")).putInt(pcm.length).put(pcm)
    out.array()
  }

  private def jdkEncode(id: Long): Array[Byte] = {
    val pcm = pcmOf(id)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, pcm.length / 2L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** THE WAV encode stage instance (wire name graft.wav_encode_v1): doc_id →
    * RIFF/WAVE bytes (lock-free writer; first row of each partition
    * byte-compared against AudioSystem.write).
    */
  val wavEncodeFn: Iterator[IdRow] => Iterator[ImgRow] = rows => {
    var canaryDone = false
    rows.map { r =>
      val bytes = riffEncode(pcmOf(r.doc_id))
      if (!canaryDone) {
        canaryDone = true
        val jdk = jdkEncode(r.doc_id)
        if (!java.util.Arrays.equals(bytes, jdk))
          throw new IllegalStateException(
            s"RIFF writer diverged from javax.sound for doc ${r.doc_id}: " +
              s"${bytes.length} vs ${jdk.length} bytes")
      }
      ImgRow(r.doc_id, bytes)
    }
  }

  /** The fmt fields and data chunk of a RIFF/WAVE payload. */
  private final case class RiffWave(fmtTag: Int, channels: Int,
                                    sampleRate: Int, bits: Int,
                                    data: Array[Byte])

  private def badWav(msg: String, ctx: String): Nothing =
    throw new IllegalArgumentException(s"$msg ($ctx)")

  /** The one chunk walker every WAV decode stage shares: RIFF/WAVE header,
    * then fmt (format tag, channels, sample rate, bits) and data chunks in
    * any order, unknown chunks skipped with word alignment — what any WAV
    * codec does. Loud on truncated containers, a missing fmt or data
    * chunk, and a fmt chunk declaring 0 channels; each stage checks its
    * own format tag and bit depth.
    */
  private def riffWalk(b: Array[Byte], ctx: => String): RiffWave = {
    def fail(msg: String): Nothing = badWav(msg, ctx)
    val buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val t = new Array[Byte](4); buf.get(t); new String(t, "US-ASCII")
    }
    if (b.length < 12 || tag() != "RIFF") fail("not a RIFF container")
    buf.getInt // declared riff size
    if (tag() != "WAVE") fail("not a WAVE form")
    var fmtTag = -1; var channels = -1; var sampleRate = -1; var bits = -1
    var data: Array[Byte] = null
    while (buf.remaining() >= 8) {
      val ck = tag(); val len = buf.getInt
      if (len < 0 || len > buf.remaining()) fail(s"truncated '$ck' chunk")
      ck match {
        case "fmt " =>
          if (len < 16) fail("fmt chunk too short")
          val p = buf.position()
          fmtTag = buf.getShort & 0xffff
          channels = buf.getShort & 0xffff
          sampleRate = buf.getInt
          buf.getInt; buf.getShort // byte rate, block align
          bits = buf.getShort & 0xffff
          buf.position(p + len + (len & 1))
        case "data" =>
          data = new Array[Byte](len); buf.get(data)
          if ((len & 1) == 1 && buf.remaining() > 0) buf.get
        case _ => // unknown chunk: skip, word-aligned
          buf.position(buf.position() + len + (len & 1))
      }
    }
    if (fmtTag == -1) fail("missing fmt chunk")
    if (data == null) fail("missing data chunk")
    if (channels == 0) fail("fmt chunk declares 0 channels")
    RiffWave(fmtTag, channels, sampleRate, bits, data)
  }

  /** 16-bit PCM decode over [[riffWalk]]: loud on non-PCM or non-16-bit. */
  private def riffParse(b: Array[Byte], ctx: => String): WavFeature = {
    val w = riffWalk(b, ctx)
    if (w.fmtTag != 1 || w.bits != 16)
      badWav(s"unsupported WAV layout (tag=${w.fmtTag} bits=${w.bits})", ctx)
    val data = w.data
    val n = data.length / (2 * w.channels)
    var sum = 0.0
    var k = 0
    while (k + 1 < data.length) {
      sum += math.abs(((data(k) & 0xff) | (data(k + 1) << 8)).toShort.toInt)
      k += 2
    }
    WavFeature(-1L, w.sampleRate, w.channels, n, sum / math.max(n * w.channels, 1))
  }

  /** The μ-law data chunk of a payload: loud on anything but 8-bit μ-law. */
  private def ulawData(b: Array[Byte], docId: Long): Array[Byte] = {
    val w = riffWalk(b, s"doc $docId")
    if (w.fmtTag != 7 || w.bits != 8)
      badWav(s"not μ-law WAV (tag=${w.fmtTag} bits=${w.bits})", s"doc $docId")
    w.data
  }

  private def jdkDecode(payload: Array[Byte]): WavFeature = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = ais.getFormat
    if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian)
      throw new IllegalArgumentException(s"unsupported WAV layout: $fmt")
    val pcm = ais.readAllBytes()
    val n = pcm.length / (2 * fmt.getChannels)
    var sum = 0.0
    var k = 0
    while (k < pcm.length) {
      sum += math.abs(((pcm(k) & 0xff) | (pcm(k + 1) << 8)).toShort.toInt)
      k += 2
    }
    WavFeature(-1L, fmt.getSampleRate.toInt, fmt.getChannels, n,
      sum / math.max(n * fmt.getChannels, 1))
  }

  /** THE audio decode stage instance (wire name graft.audio_decode_v1):
    * WAV bytes → (sample_rate, channels, n_samples, mean |amplitude|) via
    * the lock-free chunk walker; first row of each partition is ALSO parsed
    * by javax.sound and the two decodes must agree exactly.
    */
  val audioDecodeFn: Iterator[ImgRow] => Iterator[WavFeature] = rows => {
    var canaryDone = false
    rows.map { r =>
      val f = riffParse(r.payload, s"doc ${r.doc_id}")
      if (!canaryDone) {
        canaryDone = true
        val jdk = jdkDecode(r.payload)
        if (jdk.sample_rate != f.sample_rate || jdk.channels != f.channels ||
            jdk.n_samples != f.n_samples || jdk.mean_abs != f.mean_abs)
          throw new IllegalStateException(
            s"RIFF parser diverged from javax.sound for doc ${r.doc_id}: " +
              s"$f vs $jdk")
      }
      f.copy(doc_id = r.doc_id)
    }
  }

  /** Decoded audio features over real WAV payloads (m06). */
  def audioFeatures(spark: SparkSession, df: DataFrame,
                    idCol: String = "doc_id"): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id")).as[IdRow]
      .mapPartitions(wavEncodeFn)
      .mapPartitions(audioDecodeFn).toDF()
      .select(col("doc_id"), col("sample_rate"), col("channels"),
        col("n_samples"), round(col("mean_abs"), 6).as("mean_abs"))
  }

  /** Synthetic-PNG media table: real PNG payloads, one per doc. */
  def asImageTable(spark: SparkSession, df: DataFrame,
                   idCol: String = "doc_id"): Dataset[ImgRow] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id")).as[IdRow]
      .mapPartitions(pngEncodeFn)
  }

  /** Decoded image features over real PNG payloads (m01). */
  def imageFeatures(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    asImageTable(spark, df).mapPartitions(imageDecodeFn).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        round(col("mean_luma"), 6).as("mean_luma"))
  }

  /** Decoded per-scanline stats over real PNG payloads (m02). */
  def imageScanlines(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    asImageTable(spark, df).mapPartitions(imageScanlinesFn).toDF()
      .select(col("doc_id"), col("y"), col("line_bytes"),
        round(col("line_luma"), 6).as("line_luma"))
  }

  /** Flattened, oracle-friendly projection: id, modality, byte count and the
    * first histogram bin (deterministic scalar from the stub decode).
    */
  def mediaFeatureSummary(spark: SparkSession, df: DataFrame): DataFrame = {
    val feats = extractFeatures(spark, asMediaTable(df))
    feats.toDF().select(
      col("doc_id"), col("media_type"), col("n_bytes"),
      round(element_at(col("feature"), 1).cast("double"), 6).as("bin0"))
  }

  // Video (round 9): multi-frame GIF via the JDK javax.imageio GIF codec —
  // a REAL animated-container round-trip (LZW-compressed frames, local color
  // tables, image descriptors), closing the last stub modality. Same
  // certification pattern as PNG/WAV: deterministic synthetic clips, real
  // encode, real multi-frame decode (ImageReader.read(frameIndex)),
  // closed-form oracle over the generation rule. Frames use an explicit
  // 256-entry grayscale IndexColorModel so the palette round-trips pixel
  // values losslessly through GIF's 8-bit indexed raster.

  /** luma_sum is the EXACT integer sum of decoded gray values (integers sum
    * exactly in a double), so downstream means divide once at the end —
    * no FP-accumulation-order nondeterminism across partitions.
    */
  final case class FrameFeature(doc_id: Long, frame_idx: Int, width: Int,
                                height: Int, luma_sum: Double)

  /** Deterministic synthetic clip parameters: 2..5 frames, w ∈ {2,4,6,8,10},
    * h ∈ {2,5,8}; gray value of pixel k (row-major) in frame f =
    * (doc_id·17 + f·101 + k·3) mod 256. The oracle replays exactly this rule.
    */
  private def vidFrames(id: Long): Int = (2 + id % 4).toInt
  private def vidWidth(id: Long): Int = (2 + (id % 5) * 2).toInt
  private def vidHeight(id: Long): Int = (2 + (id % 3) * 3).toInt
  private def vidGray(id: Long, f: Int, k: Int): Int =
    ((id * 17 + f.toLong * 101 + k.toLong * 3) % 256).toInt

  /** Exact 256-gray palette: index i ↔ rgb(i,i,i), so encode(setSample(v)) →
    * decode(getRGB) returns v in every channel with zero quantization.
    */
  private lazy val grayPalette: java.awt.image.IndexColorModel = {
    val g = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, g, g, g)
  }

  /** THE video encode stage instance (wire name graft.gif_encode_v1):
    * doc_id → real animated-GIF bytes via the JDK GIF ImageWriter sequence
    * API (prepareWriteSequence / writeToSequence / endWriteSequence — one
    * image descriptor + LZW raster per frame). Writer allocated once per
    * partition; ImageIO stream caching forced off (see imageIoInit).
    */
  // The JDK writer defaults to INTERLACED output, and its interlaced
  // raster round-trips corrupted for small frame heights (measured: h=2
  // frames decode with the second row zeroed; h≥5 survive). Progressive
  // mode off = interlaceFlag FALSE = sequential scanlines, lossless.
  // (Shared by gifEncodeFn and gifEncodeContentFn; per-row stream closed
  // in finally, the lazy ++ tail disposes the per-partition writer.)
  val gifEncodeFn: Iterator[IdRow] => Iterator[ImgRow] = rows =>
    gifEncodeContentFn(rows.map(r => VidRow(r.doc_id, r.doc_id)))

  final case class VidRow(doc_id: Long, content_id: Long)
  final case class FrameHash(doc_id: Long, frame_idx: Int, width: Int,
                             height: Int, raster_fnv: Long)

  /** Content-keyed video encode (wire name graft.gif_encode_content_v1):
    * identical pipeline to [[gifEncodeFn]] but every clip attribute
    * (geometry, frame count, pixels) derives from `content_id` instead of
    * the row id — the "re-upload" model: two docs sharing a content_id
    * carry independently-encoded but pixel-identical videos, the ground
    * truth corpus-level video dedup has to rediscover from DECODED bytes.
    */
  val gifEncodeContentFn: Iterator[VidRow] => Iterator[ImgRow] = rows => {
    imageIoInit()
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
    if (!writers.hasNext) throw new IllegalStateException("no GIF writer available")
    val writer = writers.next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    rows.map { r =>
      val c = r.content_id
      val (w, h, nf) = (vidWidth(c), vidHeight(c), vidFrames(c))
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nf) {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
          val raster = img.getRaster
          var k = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, vidGray(c, f, k))
              x += 1; k += 1
            }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
          f += 1
        }
        writer.endWriteSequence()
      } finally ios.close()
      ImgRow(r.doc_id, bos.toByteArray)
    } ++ { writer.dispose(); Iterator.empty }
  }

  /** Frame fingerprinting decode (wire name graft.gif_frame_hash_v1): GIF
    * bytes → one row per DECODED frame carrying an FNV-1a 64 digest of the
    * raw gray raster in row-major order. The digest is computed from
    * decoded pixels — not container bytes — so two independently encoded
    * copies of the same content collide (that is the point) while any
    * decode corruption changes the digest and fails the closed-form oracle.
    */
  val gifFrameHashFn: Iterator[ImgRow] => Iterator[FrameHash] = rows => {
    imageIoInit()
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    if (!readers.hasNext) throw new IllegalStateException("no GIF reader available")
    val reader = readers.next()
    rows.flatMap { r =>
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      try {
        reader.setInput(iis, false, true)
        val nf = reader.getNumImages(true)
        if (nf <= 0)
          throw new IllegalArgumentException(
            s"undecodable GIF payload for doc ${r.doc_id}")
        (0 until nf).map { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          var hash = 0xcbf29ce484222325L // FNV-1a 64 offset basis
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val gray = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
              hash = (hash ^ gray) * 0x100000001b3L
              x += 1
            }
            y += 1
          }
          FrameHash(r.doc_id, f, w, h, hash)
        }
      } finally iis.close()
    } ++ { reader.dispose(); Iterator.empty }
  }

  /** Corpus-level duplicate-frame detection (m12): every document carries a
    * real animated GIF whose content is keyed by `doc_id % contentMod` (the
    * re-upload model), frames are DECODED and fingerprinted by an FNV-1a 64
    * raster digest, and frames sharing (geometry, digest) across the whole
    * corpus group into duplicate sets — the video analogue of d01 exact
    * text dedup, certified by a closed-form oracle over the generation
    * rule. Output: one row per duplicate group (n_frames ≥ 2) with its
    * canonical (first) occurrence in (doc_id, frame_idx) order.
    *
    * Scale design: payloads never shuffle — encode and decode+hash are
    * partition-local typed stages; only (doc_id, frame_idx, w, h, digest)
    * scalars ride the ONE grouping exchange (map-side partial agg on the
    * digest key). Group sizes are corpus-frequency bounded: counts and a
    * struct-min, never a collected list, so a viral re-upload is a big
    * count, not a big buffer.
    */
  def videoDuplicateFrames(spark: SparkSession, df: DataFrame,
                           contentMod: Int = 256,
                           idCol: String = "doc_id"): DataFrame = {
    import spark.implicits._
    require(contentMod >= 1, s"contentMod must be >= 1: $contentMod")
    df.select(col(idCol).cast("long").as("doc_id"),
        (col(idCol) % contentMod).cast("long").as("content_id")).as[VidRow]
      .mapPartitions(gifEncodeContentFn)
      .mapPartitions(gifFrameHashFn)
      .toDF()
      .groupBy("width", "height", "raster_fnv")
      .agg(count(lit(1)).as("n_frames"),
        min(struct(col("doc_id"), col("frame_idx"))).as("first"))
      .filter(col("n_frames") >= 2)
      .select(col("width"), col("height"), col("n_frames"),
        col("first").getField("doc_id").as("first_doc"),
        col("first").getField("frame_idx").as("first_frame"))
  }

  /** THE video decode stage instance (wire name graft.gif_frames_v1): GIF
    * bytes → one row per DECODED frame via a real multi-frame ImageReader
    * (`getNumImages(true)` walks the image descriptors; `read(f)` inflates
    * frame f's LZW raster). Mean luma averages (r+g+b)/3 over decoded
    * pixels — the gray palette makes that the original sample value. Loud
    * on undecodable payloads and zero-frame containers.
    */
  val gifFramesFn: Iterator[ImgRow] => Iterator[FrameFeature] = rows => {
    imageIoInit()
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    if (!readers.hasNext) throw new IllegalStateException("no GIF reader available")
    val reader = readers.next()
    // try/finally per row: the loud-failure paths (zero frames, read(f)
    // exception) must still close the stream — a leaked ImageInputStream
    // per failed row is a native-resource leak on long-running executors;
    // the lazy ++ tail disposes the per-partition reader on exhaustion
    rows.flatMap { r =>
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      try {
        reader.setInput(iis, false, true)
        val nf = reader.getNumImages(true)
        if (nf <= 0)
          throw new IllegalArgumentException(
            s"undecodable GIF payload for doc ${r.doc_id}")
        (0 until nf).map { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              // gray palette ⇒ r = g = b = original sample value
              sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
              x += 1
            }
            y += 1
          }
          FrameFeature(r.doc_id, f, w, h, sum.toDouble)
        }
      } finally iis.close()
    } ++ { reader.dispose(); Iterator.empty }
  }

  /** THE image resize stage instance (wire name graft.image_resize_v1):
    * PNG bytes → PNG bytes at half resolution via a REAL decode →
    * stride-2 resample → re-encode round-trip. Output pixel (x, y) =
    * input pixel (2x, 2y); rw = ⌈w/2⌉, rh = ⌈h/2⌉ — the closed-form
    * sampling rule the oracle replays, so a resizer that mis-indexes the
    * raster or re-encodes lossily fails certification downstream (the
    * resized payload is decoded AGAIN by graft.image_decode_v1).
    */
  val imageResizeFn: Iterator[ImgRow] => Iterator[ImgRow] = rows => {
    imageIoInit()
    rows.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      if (img == null)
        throw new IllegalArgumentException(
          s"undecodable image payload for doc ${r.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      val (rw, rh) = ((w + 1) / 2, (h + 1) / 2)
      val out = new java.awt.image.BufferedImage(
        rw, rh, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < rh) {
        var x = 0
        while (x < rw) {
          out.setRGB(x, y, img.getRGB(2 * x, 2 * y))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      if (!javax.imageio.ImageIO.write(out, "png", bos))
        throw new IllegalStateException("no PNG writer available")
      ImgRow(r.doc_id, bos.toByteArray)
    }
  }

  /** Decoded features of REALLY-resized images (m08): synth PNG → decode →
    * stride-2 resample → re-encode → decode again. Supersedes the
    * byte-slice `resized` stub as the image-resize path.
    */
  def resizedImageFeatures(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    asImageTable(spark, df).mapPartitions(imageResizeFn)
      .mapPartitions(imageDecodeFn).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        round(col("mean_luma"), 6).as("mean_luma"))
  }

  // ----------------------------------------------------------------- μ-law

  final case class UlawFeature(doc_id: Long, n_samples: Int,
                               mean_abs_q: Double)

  /** Canonical CCITT G.711 μ-law encode (Sun ulaw.c closed form): clip to
    * 32635, add bias 132, segment exponent from the high bits, 4-bit
    * mantissa, ones-complement. The JDK's own UlawCodec agrees on ALL
    * inputs with |pcm| ≤ 32635 and on all 256 codes in decode — but for
    * |pcm| ≥ 32636 it OVERFLOWS the bias add instead of clipping (probe:
    * +32636 → 0xFF, which DECODES TO SILENCE; +32700 → 247 — non-monotone
    * garbage, mirrored for negatives). A full-scale sample becoming
    * silence is a real JDK defect (same class as the GIF interlace
    * corruption found in round 9), so [[ulawEncodeFn]] loud-rejects that
    * region rather than replicate it, and the per-partition canary runs
    * the JDK codec on in-range data where the two agree exactly.
    */
  def linear2ulaw(pcm: Int): Int = {
    val sign = if (pcm < 0) 0x80 else 0
    var mag = if (pcm < 0) -pcm else pcm
    if (mag > 32635) mag = 32635
    mag += 132
    var exponent = 0
    var v = mag >> 7
    while (v > 1) { v >>= 1; exponent += 1 }
    val mant = (mag >> (exponent + 3)) & 0x0f
    ~(sign | (exponent << 4) | mant) & 0xff
  }

  /** Canonical G.711 μ-law decode — bit-identical to the JDK codec on all
    * 256 codes (probe-verified): magnitude = ((mant·8 + 132) << exp) − 132.
    */
  def ulaw2linear(u: Int): Int = {
    val uu = (~u) & 0xff
    val mag = ((((uu & 0x0f) << 3) + 132) << ((uu >> 4) & 7)) - 132
    if ((uu & 0x80) != 0) -mag else mag
  }

  /** THE lossy-audio encode stage instance (wire name graft.ulaw_encode_v1):
    * doc_id → RIFF/WAVE with format tag 7 (μ-law), 8 bits/sample — the
    * telephony container. Hot path is the closed form (javax.sound's
    * provider registry serializes under concurrency — the m06 α=1.31
    * lesson); the JDK codec canaries the first row of every partition at
    * SAMPLE level (byte-identical μ-law codes for in-range PCM).
    */
  val ulawEncodeFn: Iterator[IdRow] => Iterator[ImgRow] = rows =>
    ulawEncodeContentFn(rows.map(r => VidRow(r.doc_id, r.doc_id)))

  /** Content-keyed μ-law encode (wire name graft.ulaw_encode_content_v1):
    * [[ulawEncodeFn]]'s pipeline with every signal attribute derived from
    * `content_id` — the audio re-upload model (two docs sharing a
    * content_id carry independently encoded but byte-identical clips,
    * because G.711 companding is deterministic even though it is LOSSY).
    */
  val ulawEncodeContentFn: Iterator[VidRow] => Iterator[ImgRow] = rows => {
    var canaryDone = false
    rows.map { r =>
      val pcm = pcmOf(r.content_id)
      val n = pcm.length / 2
      val codes = new Array[Byte](n)
      var k = 0
      while (k < n) {
        val s = ((pcm(2 * k) & 0xff) | (pcm(2 * k + 1) << 8)).toShort.toInt
        if (s >= 32636 || s <= -32636)
          throw new IllegalArgumentException(
            s"sample $s in the JDK μ-law overflow region (|pcm| ≥ 32636 " +
              s"encodes as garbage/silence) for doc ${r.doc_id}")
        codes(k) = linear2ulaw(s).toByte
        k += 1
      }
      if (!canaryDone) {
        canaryDone = true
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val uFmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
        val jdk = javax.sound.sampled.AudioSystem.getAudioInputStream(uFmt,
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)).readAllBytes()
        if (!java.util.Arrays.equals(codes, jdk))
          throw new IllegalStateException(
            s"closed-form μ-law diverged from the JDK codec for doc ${r.doc_id}")
      }
      // RIFF with fmt tag 7: compressed formats also carry a fact chunk
      // (sample count) per the RIFF spec
      val out = java.nio.ByteBuffer.allocate(58 + n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(50 + n)
        .put("WAVE".getBytes("US-ASCII"))
      out.put("fmt ".getBytes("US-ASCII")).putInt(18)
        .putShort(7)            // WAVE_FORMAT_MULAW
        .putShort(1)            // mono
        .putInt(8000)           // sample rate
        .putInt(8000)           // byte rate (1 byte/sample)
        .putShort(1)            // block align
        .putShort(8)            // bits per sample
        .putShort(0)            // cbSize (no extra format bytes)
      out.put("fact".getBytes("US-ASCII")).putInt(4).putInt(n)
      out.put("data".getBytes("US-ASCII")).putInt(n).put(codes)
      ImgRow(r.doc_id, out.array())
    }
  }

  /** THE lossy-audio decode stage instance (wire name graft.ulaw_decode_v1):
    * μ-law WAV bytes → (n_samples, mean |decoded amplitude|) through a real
    * chunk walk + the G.711 expansion; the JDK decoder canaries the first
    * row of every partition (its ULAW→PCM conversion is bit-identical on
    * all 256 codes). Loud on non-μ-law or truncated containers.
    */
  val ulawDecodeFn: Iterator[ImgRow] => Iterator[UlawFeature] = rows => {
    var canaryDone = false
    rows.map { r =>
      val data = ulawData(r.payload, r.doc_id)
      var sum = 0L
      var k = 0
      while (k < data.length) {
        sum += math.abs(ulaw2linear(data(k) & 0xff)); k += 1
      }
      if (!canaryDone) {
        canaryDone = true
        val uFmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
        val pFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val dec = javax.sound.sampled.AudioSystem.getAudioInputStream(pFmt,
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(data), uFmt, data.length.toLong))
          .readAllBytes()
        var jsum = 0L
        var j = 0
        while (j + 1 < dec.length) {
          jsum += math.abs(((dec(j) & 0xff) | (dec(j + 1) << 8)).toShort.toInt)
          j += 2
        }
        if (jsum != sum)
          throw new IllegalStateException(
            s"closed-form μ-law decode diverged from the JDK codec for doc ${r.doc_id}")
      }
      // exact integer sum divides once — no FP-order nondeterminism
      UlawFeature(r.doc_id, data.length,
        sum.toDouble / math.max(data.length, 1))
    }
  }

  /** Decoded features of μ-law round-tripped audio (m11): the SECOND lossy
    * codec — but unlike JPEG (m10), G.711 companding is a fixed piecewise
    * mapping, so the oracle replays encode∘decode closed-form and the
    * certification is EXACT, not tolerance-based. Together the two show
    * both lossy-oracle methodologies a real multimodal corpus needs.
    */
  def ulawAudioFeatures(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select(col("doc_id").cast("long").as("doc_id")).as[IdRow]
      .mapPartitions(ulawEncodeFn)
      .mapPartitions(ulawDecodeFn).toDF()
      .select(col("doc_id"), col("n_samples"),
        round(col("mean_abs_q"), 6).as("mean_abs_q"))
  }

  final case class AudioHash(doc_id: Long, n_samples: Int, pcm_fnv: Long)

  /** Audio fingerprinting decode (wire name graft.ulaw_decode_hash_v1):
    * μ-law WAV bytes → an FNV-1a 64 digest of the DECODED linear samples
    * (each expanded 16-bit value mixed as-is). The digest is over the
    * post-companding signal, not container bytes — so independently
    * encoded copies of the same content collide (deterministic lossy
    * codec), while decode corruption changes the digest and fails the
    * closed-form oracle. Same loud RIFF/fmt-tag contract as
    * [[ulawDecodeFn]].
    */
  val ulawDecodeHashFn: Iterator[ImgRow] => Iterator[AudioHash] = rows => {
    rows.map { r =>
      val data = ulawData(r.payload, r.doc_id)
      var hash = 0xcbf29ce484222325L // FNV-1a 64 offset basis
      var k = 0
      while (k < data.length) {
        hash = (hash ^ (ulaw2linear(data(k) & 0xff) & 0xffff)) * 0x100000001b3L
        k += 1
      }
      AudioHash(r.doc_id, data.length, hash)
    }
  }

  /** Corpus-level duplicate-audio detection (m13): every document carries a
    * real μ-law clip keyed by `doc_id % contentMod` (the re-upload model),
    * clips DECODE through the real container walk + G.711 expansion and
    * fingerprint by an FNV-1a 64 digest of the decoded samples, and
    * (n_samples, digest) groups with ≥ 2 members are the duplicate sets.
    * The methodology point m12 (lossless GIF) cannot make: content-exact
    * dedup SURVIVES a deterministic lossy codec — the decoded (quantized)
    * signal is hashable even though the original PCM is not recoverable.
    * Payloads never shuffle; only (doc_id, n_samples, digest) scalars ride
    * the one grouping exchange; group state is a count + min.
    */
  def audioDuplicateClips(spark: SparkSession, df: DataFrame,
                          contentMod: Int = 128,
                          idCol: String = "doc_id"): DataFrame = {
    import spark.implicits._
    require(contentMod >= 1, s"contentMod must be >= 1: $contentMod")
    df.select(col(idCol).cast("long").as("doc_id"),
        (col(idCol) % contentMod).cast("long").as("content_id")).as[VidRow]
      .mapPartitions(ulawEncodeContentFn)
      .mapPartitions(ulawDecodeHashFn)
      .toDF()
      .groupBy("n_samples", "pcm_fnv")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .select(col("n_samples"), col("n_docs"), col("first_doc"))
  }

  // ------------------------------------------------------------------ JPEG

  /** Deterministic synthetic JPEG parameters (m10): w ∈ {16,24,32},
    * h ∈ {8,16,24,32}, gray value v(x,y) = base + x + y with
    * base = 32 + (doc_id mod 8)·16 ∈ [32,144] (max sample 144+31+31 = 206,
    * no clipping) — a smooth luma gradient whose TRUE mean is closed-form:
    * base + (w−1)/2 + (h−1)/2. JPEG is the first LOSSY codec in the m
    * family, so its oracle is tolerance-based, not bit-exact: the decoded
    * mean must sit within [[JpegLumaTol]] of the closed-form mean — the
    * certification methodology a 100-TB multimodal corpus actually needs
    * (real archives are JPEG/MP3/H.264; bit-exact replay is impossible
    * there by design).
    */
  private def jpgWidth(id: Long): Int = (16 + (id % 3) * 8).toInt
  private def jpgHeight(id: Long): Int = (8 + (id % 4) * 8).toInt
  private def jpgBase(id: Long): Int = (32 + (id % 8) * 16).toInt

  /** Error budget on MEAN luma: at quality 0.85 the luminance DC quant
    * step is ≤ 5, so per-block DC error ≤ 2.5 and the image mean (average
    * of block DCs) stays well inside ±2; gradients this smooth measure
    * ≤ ~0.5 in practice (MultimodalSpec pins the measured bound).
    */
  val JpegLumaTol: Double = 2.0

  /** THE JPEG encode stage instance (wire name graft.jpeg_encode_v1):
    * doc_id → real baseline-JPEG bytes via the JDK JPEG ImageWriter at an
    * EXPLICIT quality (0.85) — pinned so certification doesn't float with
    * JDK default-quality changes. r=g=b gradient: chroma is neutral, so
    * 4:2:0 subsampling can't move the luma mean. Decode reuses
    * graft.image_decode_v1 (ImageIO.read is container-agnostic).
    */
  val jpegEncodeFn: Iterator[IdRow] => Iterator[ImgRow] = rows => {
    imageIoInit()
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg")
    if (!writers.hasNext) throw new IllegalStateException("no JPEG writer available")
    val writer = writers.next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.85f)
    rows.map { r =>
      val (w, h) = (jpgWidth(r.doc_id), jpgHeight(r.doc_id))
      val base = jpgBase(r.doc_id)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = base + x + y
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      } finally ios.close()
      ImgRow(r.doc_id, bos.toByteArray)
    } ++ { writer.dispose(); Iterator.empty }
  }

  /** Decoded features of real JPEG payloads (m10) with the tolerance
    * verdict computed in-plan: geometry and channel count certify EXACTLY;
    * mean luma certifies as |decoded − closed-form| ≤ [[JpegLumaTol]]
    * (a boolean column — the lossy-codec analogue of the bit-exact m01
    * replay; the oracle emits TRUE and any decode drift flips the hash).
    */
  def jpegImageFeatures(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    val expected = (lit(32.0) + (col("doc_id") % 8).cast("double") * 16.0
      + (col("width").cast("double") - 1.0) / 2.0
      + (col("height").cast("double") - 1.0) / 2.0)
    df.select(col("doc_id").cast("long").as("doc_id")).as[IdRow]
      .mapPartitions(jpegEncodeFn)
      .mapPartitions(imageDecodeFn).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        (abs(col("mean_luma") - expected) <= lit(JpegLumaTol)).as("luma_ok"))
  }

  /** Synthetic-GIF media table: real animated-GIF payloads, one per doc. */
  def asVideoTable(spark: SparkSession, df: DataFrame,
                   idCol: String = "doc_id"): Dataset[ImgRow] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id")).as[IdRow]
      .mapPartitions(gifEncodeFn)
  }

  /** Decoded per-frame video features over real GIF payloads (m07). */
  def videoFrameFeatures(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    asVideoTable(spark, df).mapPartitions(gifFramesFn).toDF()
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        round(col("luma_sum") / (col("width") * col("height")), 6)
          .as("mean_luma"))
  }

  /** Clip-level pooling over DECODED frames (re-pointed m05): frame count
    * from the container's image descriptors, clip luma = mean gray over all
    * decoded pixels of all frames — the frame→clip layer of a video pipeline
    * running on real codec output instead of byte slices. One grouping
    * exchange; payloads never shuffle (only per-frame scalars do). The
    * exact integer luma sums divide once after the aggregation, so the
    * result is bit-identical regardless of partial-agg merge order.
    */
  def videoClipFeatures(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    asVideoTable(spark, df).mapPartitions(gifFramesFn).toDF()
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_frames"),
        max("width").as("width"), max("height").as("height"),
        round(sum(col("luma_sum")) /
          sum((col("width") * col("height")).cast("double")), 6)
          .as("clip_luma"))
  }

  /** Scene-change (shot-boundary) detection over DECODED frames (m09):
    * a frame is a cut when its mean luma shifts from the previous frame
    * by ≥ threshold — the classic histogram/intensity-delta detector, run
    * on real codec output. Frame 0 always opens a scene (`luma_delta`
    * NULL). The per-frame lag is one window pass partitioned by doc —
    * frames of a clip co-locate after the decode stage, and only
    * per-frame scalars shuffle, never payloads. Deltas derive from the
    * ROUNDED mean luma (itself one division over exact integer sums), so
    * any engine replaying the rule reproduces the cuts bit-identically.
    */
  def videoSceneCuts(spark: SparkSession, df: DataFrame,
                     threshold: Double = 90.0): DataFrame = {
    import spark.implicits._
    require(threshold > 0, s"threshold must be positive: $threshold")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    asVideoTable(spark, df).mapPartitions(gifFramesFn).toDF()
      .select(col("doc_id"), col("frame_idx"),
        round(col("luma_sum") / (col("width") * col("height")), 6)
          .as("mean_luma"))
      .withColumn("prev", lag(col("mean_luma"), 1).over(w))
      .select(col("doc_id"), col("frame_idx"), col("mean_luma"),
        round(abs(col("mean_luma") - col("prev")), 6).as("luma_delta"),
        (col("prev").isNull ||
          abs(col("mean_luma") - col("prev")) >= threshold).as("is_cut"))
  }

  /** Frame sampling: fixed-length binary frames cut at a fixed stride —
    * the video-ingestion plumbing (a real implementation swaps the byte
    * slice for an ffmpeg keyframe grab; the explode shape, per-frame rows
    * and downstream partitioning are identical). Frames of a payload stay
    * in its partition; no shuffle. The payload is lambda-bound (array
    * wrap) so octet_length and the slices evaluate against a value, not a
    * re-inlined expression.
    */
  def frameSample(media: DataFrame, frameLen: Int, stride: Int): DataFrame = {
    require(frameLen > 0 && stride > 0, "frameLen and stride must be positive")
    media.select(col("doc_id"), col("media_type"),
      posexplode(expr(
        s"""element_at(transform(array(payload), p ->
           |  CASE WHEN octet_length(p) = 0 THEN array(p)
           |  ELSE transform(
           |    sequence(0, greatest(cast(ceil(octet_length(p)
           |      / CAST($stride AS DOUBLE)) AS INT), 1) - 1),
           |    k -> substring(p, k * $stride + 1, $frameLen)) END), 1)""".stripMargin))
        .as(Seq("frame_idx", "frame")))
  }

  /** Resize stub: deterministic strided byte downsample to ≤ targetBytes —
    * the image-resize slot (a real implementation decodes, resamples pixels,
    * re-encodes; this preserves the contract: bounded-size deterministic
    * output, no shuffle, payload never leaves its partition).
    */
  def resized(media: DataFrame, targetBytes: Int,
              outCol: String = "payload_resized"): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    media.withColumn(outCol, expr(
      s"""element_at(transform(array(payload), p ->
         |  CASE WHEN octet_length(p) <= $targetBytes THEN p
         |  ELSE element_at(transform(
         |    array(cast(ceil(octet_length(p) / CAST($targetBytes AS DOUBLE)) AS INT)),
         |    st -> aggregate(sequence(0, $targetBytes - 1), unhex(''),
         |            (acc, k) -> concat(acc, substring(p, k * st + 1, 1)))), 1)
         |  END), 1)""".stripMargin))
  }

  // --------------------------------------------------- perceptual hash (m14)

  final case class PHashRow(doc_id: Long, content_id: Long, scale: Int)
  final case class PHashFeature(doc_id: Long, width: Int, height: Int,
                                dhash: Long)

  /** Cell luminance of the synthetic pHash fixture: a pseudo-random (but
    * closed-form) gray per 9×8 GRID CELL — every pixel inside a cell is
    * identical, so cell averages are exact at ANY resolution whose
    * dimensions are multiples of (9, 8), which is what makes the resized
    * re-upload's dHash provably equal to the original's. */
  private def phGray(c: Long, cx: Int, cy: Int): Int =
    ((c * 2654435761L + cx * 40503L + cy * 69061L) % 251).toInt

  private def phWidth(c: Long, scale: Int): Int = 18 * (1 + (c % 3).toInt) / scale
  private def phHeight(c: Long, scale: Int): Int = 16 * (1 + (c % 2).toInt) / scale

  /** THE pHash-fixture encode stage (wire name graft.phash_encode_v1):
    * (doc_id, content_id, scale) → real PNG bytes. scale=2 bakes a genuine
    * half-resolution image (the downscaled re-upload), not a byte slice. */
  val phashEncodeFn: Iterator[PHashRow] => Iterator[ImgRow] = rows => {
    imageIoInit()
    rows.map { r =>
      require(r.scale == 1 || r.scale == 2, s"phash scale must be 1|2: ${r.scale}")
      val (w, h) = (phWidth(r.content_id, r.scale), phHeight(r.content_id, r.scale))
      // TYPE_3BYTE_BGR with r=g=b, the proven-exact roundtrip of
      // pngEncodeFn (TYPE_BYTE_GRAY's setRGB goes through a colorspace
      // conversion that does NOT preserve the raw value)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = phGray(r.content_id, x * 9 / w, y * 8 / h)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      if (!javax.imageio.ImageIO.write(img, "png", bos))
        throw new IllegalStateException(s"PNG encode failed for doc ${r.doc_id}")
      ImgRow(r.doc_id, bos.toByteArray)
    }
  }

  /** THE dHash decode stage (wire name graft.phash_decode_v1): PNG bytes →
    * (doc_id, width, height, dhash). The image decodes for real
    * (ImageIO.read), pools into a 9×8 luminance grid by exact integer area
    * averaging, and hashes the HORIZONTAL GRADIENT SIGNS: bit (cy·8+cx) set
    * iff cell(cx+1,cy) > cell(cx,cy) — the standard dHash, 63 bits used
    * (bit 63 is skipped so the value stays sign-free in every engine's
    * signed 64-bit arithmetic). Scale-invariant by construction for images
    * whose dimensions are multiples of (9, 8); loud on others. */
  val phashDecodeFn: Iterator[ImgRow] => Iterator[PHashFeature] = rows => {
    imageIoInit()
    rows.map { r =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      if (img == null)
        throw new IllegalArgumentException(s"undecodable PNG for doc ${r.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      require(w % 9 == 0 && h % 8 == 0,
        s"pHash needs dims divisible by 9x8, got ${w}x$h (doc ${r.doc_id})")
      val sums = Array.ofDim[Long](9, 8)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          sums(x * 9 / w)(y * 8 / h) += img.getRGB(x, y) & 0xff
          x += 1
        }
        y += 1
      }
      val cellN = (w / 9).toLong * (h / 8)
      var dhash = 0L
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          val bit = cy * 8 + cx
          if (bit < 63 && sums(cx + 1)(cy) / cellN > sums(cx)(cy) / cellN)
            dhash |= 1L << bit
          cx += 1
        }
        cy += 1
      }
      PHashFeature(r.doc_id, w, h, dhash)
    }
  }

  /** Perceptual-hash near-duplicate detection ACROSS RESOLUTIONS (m14):
    * every document carries a real PNG keyed by `doc_id % contentMod`, and
    * alternating doc blocks re-upload the HALF-RESOLUTION re-encode
    * (`scale 2`) — the crawl-corpus case exact digests (m12) cannot catch:
    * the bytes, dimensions, and raster all differ, only the perceptual
    * content matches. Dup groups key on the dHash; a group spanning two
    * geometries is a cross-resolution catch (`n_geoms = 2`).
    *
    * Scale design: payloads never shuffle (encode and decode+hash are
    * partition-local typed stages); the ONE exchange carries
    * (doc_id, width, height, dhash) scalars with map-side partial
    * aggregation, and groups hold counts plus a struct-min — never a
    * collected list. Certified by a closed-form oracle that replays the
    * cell rule and the 63 gradient comparisons in SQL integer arithmetic.
    */
  def imageNearDupsPHash(spark: SparkSession, df: DataFrame,
                         contentMod: Int = 8,
                         idCol: String = "doc_id"): DataFrame = {
    import spark.implicits._
    require(contentMod >= 1, s"contentMod must be >= 1: $contentMod")
    df.select(col(idCol).cast("long").as("doc_id"),
        (col(idCol) % contentMod).cast("long").as("content_id"),
        when((col(idCol).cast("long") / contentMod).cast("long") % 2 === 1, 2)
          .otherwise(1).as("scale"))
      .as[PHashRow]
      .mapPartitions(phashEncodeFn)
      .mapPartitions(phashDecodeFn)
      .toDF()
      .groupBy("dhash")
      .agg(count(lit(1)).as("n_images"),
        countDistinct(struct(col("width"), col("height"))).as("n_geoms"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_images") >= 2)
      .select(col("dhash"), col("n_images"), col("n_geoms"), col("first_doc"))
  }
}
