package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for training-data pipelines: media as
  * opaque `binary` columns + typed metadata, with decode / feature
  * extraction / resize / frame sampling as per-partition batch stages.
  *
  * The IMAGE decode kernel is REAL (JRE-native `javax.imageio.ImageIO`:
  * PNG/JPEG/GIF/BMP → actual pixels, hash-verified end-to-end in
  * q_image_decode). Formats with no JRE codec (video/audio) keep a
  * deterministic stub clearly marked below, behind the same signatures a
  * real codec would use; their schemas, the iterator-batched
  * `mapPartitions` shape, the explode-based frame fan-out, and partition
  * sizing are the real Spark plumbing and are tested.
  *
  * Scale design:
  *   - Binary payloads are the heaviest columns in the table; every
  *     stage projects them away as soon as derived features exist, so
  *     downstream shuffles (joins, dedup) never carry pixels.
  *   - Per-partition stages use `mapPartitions` on typed Datasets: one
  *     codec context per partition (the real-world cost model: decoder
  *     init is expensive, per-item decode is cheap), processing rows as
  *     a streamed iterator — no materialization of the whole partition.
  *   - `spark.sql.files.maxPartitionBytes` governs how many assets land
  *     per task; for ~1 MB assets the default 128 MB → ~128 assets/task,
  *     the right batch shape for vectorized codecs.
  */
object Multimodal {

  /** ImageIO defaults to a DISK-backed stream cache: every encode and
    * decode creates (and deletes) a temp file, which for corpora of
    * tiny images multiplies each op's cost by filesystem state — the
    * observed 0.3 s ↔ 4 s swing on the same 5000-image decode. All our
    * payloads are in-memory byte arrays; cache in memory.
    */
  javax.imageio.ImageIO.setUseCache(false)

  /** Call from driver-side fixture builders to force the object
    * initializer (and the cache setting above) before direct ImageIO
    * use; executors get it when the kernel closures load the object.
    */
  def ensureImageIoInit(): Unit = ()

  /** An asset row: opaque payload + typed metadata. */
  case class Asset(asset_id: Long, media_type: String, content: Array[Byte],
                   format: String, duration_ms: Long)
  case class ImageFeature(asset_id: Long, width: Int, height: Int,
                          embedding: Array[Float])
  case class AudioFeature(asset_id: Long, sample_rate: Int, channels: Int,
                          n_frames: Long, duration_ms: Long, rms: Array[Float])
  case class Frame(asset_id: Long, frame_idx: Int, ts_ms: Long,
                   content: Array[Byte])

  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("media_type", StringType),
    StructField("content", BinaryType),
    StructField("format", StringType),
    StructField("duration_ms", LongType)))

  /** Deterministic synthetic assets derived from the documents table —
    * stands in for a real media table so the plumbing is exercised on
    * driver test data (TESTDATA.md): content = utf8 bytes, duration =
    * 10 ms per char.
    */
  def assetsFromDocuments(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("asset_id"),
      lit("video").as("media_type"),
      col("text").cast(BinaryType).as("content"),
      lit("fake/v1").as("format"),
      (length(col("text")) * 10L).cast(LongType).as("duration_ms"))

  // ------------------------------------------------------------- kernels

  /** REAL image decode via the JRE-native `javax.imageio.ImageIO` (PNG /
    * JPEG / GIF / BMP — every codec the JRE ships). Returns None for
    * non-image formats or payloads no registered codec accepts, which
    * then fall back to the documented stub. No external dependency: the
    * decode-to-features path is a genuinely tested kernel, not plumbing
    * around a fake.
    */
  private def decodeImage(a: Asset): Option[java.awt.image.BufferedImage] =
    if (a.media_type == "image" || a.format.startsWith("image/"))
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(a.content)))
      catch { case _: java.io.IOException => None }
    else None

  /** Feature vector from REAL decoded pixels: `dim` horizontal bands,
    * each the mean luminance (r+g+b)/765 of its rows — deterministic,
    * engine-exact (pure integer sums folded to one double divide), and
    * the shape a real patch-embedding kernel has.
    */
  private def bandLuminance(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val v = new Array[Float](dim)
    var b = 0
    while (b < dim) {
      val y0 = math.min(b * h / dim, h - 1)
      val y1 = math.max(y0 + 1, (b + 1) * h / dim)
      var sum = 0L
      var y = y0
      while (y < y1) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
          x += 1
        }
        y += 1
      }
      v(b) = (sum.toDouble / ((y1 - y0).toLong * w * 765L)).toFloat
      b += 1
    }
    v
  }

  /** The JRE's registered [[javax.sound.sampled.spi.AudioFileReader]]s,
    * resolved ONCE per JVM. `AudioSystem.getAudioInputStream` re-runs
    * the ServiceLoader provider scan on EVERY call (the JDK 9+ sound
    * stack dropped the old 60 s provider cache), and on a Spark executor
    * that scan walks META-INF/services across the full several-hundred-
    * jar classpath — measured 20 ms/row inside an executor vs 50 µs/row
    * for the identical decode in a thin-classpath JVM
    * (OPTIMIZATION_r15.md). Caching the provider list is the §4.5
    * "initialise heavyweight state once, not per row" fix; the decode
    * below still runs the same JRE reader (WaveFileReader et al.), in
    * the same priority order AudioSystem uses.
    */
  private lazy val audioFileReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) buf += it.next()
    // Gervill's SoftMidiAudioFileReader LAST: probing it costs a fresh
    // synchronized MIDI provider scan PER CALL (MidiSystem.getSequence →
    // JDK13Services.getProviders — the stack a sampler caught under
    // every executor thread (OPTIMIZATION_r15.md), ~1 ms/row with lock
    // contention), and the JDK's container readers reject foreign bytes
    // from the magic number alone for ~1 µs. Only payloads NO standard
    // reader accepts ever reach it, and reader order only matters when
    // two readers accept the same bytes — which the distinct WAV/AIFF/
    // AU/MIDI magics preclude, so acceptance semantics are unchanged.
    val (midi, std) = buf.partition(_.getClass.getName.contains("Midi"))
    (std ++ midi).toArray
  }

  /** AudioSystem.getAudioInputStream semantics over the cached provider
    * list: first reader that accepts the stream wins; readers that
    * reject reset the (mark-supported) stream per the SPI contract.
    * Returns None when no reader accepts (AudioSystem throws
    * UnsupportedAudioFileException there — the caller treated that as
    * None already).
    */
  private def readAudioStream(
      in: java.io.InputStream): Option[javax.sound.sampled.AudioInputStream] = {
    var i = 0
    while (i < audioFileReaders.length) {
      try return Some(audioFileReaders(i).getAudioInputStream(in))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
      i += 1
    }
    None
  }

  /** REAL audio decode via the JRE-native `javax.sound.sampled` SPI
    * (WAV/AIFF/AU — every container the JRE ships a reader for), with
    * the provider list cached per JVM (see [[audioFileReaders]]).
    * Returns the stream only for 16-bit signed PCM payloads (the format
    * this kernel's sample parser handles); anything else falls back to
    * the documented stub.
    */
  private def decodeAudio(a: Asset): Option[javax.sound.sampled.AudioInputStream] =
    if (a.media_type == "audio" || a.format.startsWith("audio/"))
      try {
        readAudioStream(new java.io.ByteArrayInputStream(a.content)).filter { ais =>
          val f = ais.getFormat
          f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            f.getSampleSizeInBits == 16
        }
      } catch {
        case _: java.io.IOException => None
      }
    else None

  /** Feature vector from REAL decoded samples: `dim` time bands, each
    * the RMS amplitude (normalized to [0,1] by the 16-bit full scale) of
    * its frames across channels — the audio analog of [[bandLuminance]];
    * deterministic and engine-exact (integer sample squares summed in a
    * long, one sqrt+divide per band).
    */
  private def bandRms(ais: javax.sound.sampled.AudioInputStream, dim: Int): AudioFeatureParts = {
    val f = ais.getFormat
    val channels = f.getChannels
    val bytes = ais.readAllBytes()
    val le = !f.isBigEndian
    val nSamples = bytes.length / 2
    val nFrames = nSamples.toLong / channels
    val v = new Array[Float](dim)
    var b = 0
    while (b < dim) {
      val s0 = (b.toLong * nSamples / dim).toInt
      val s1 = math.max(s0 + 1, ((b + 1).toLong * nSamples / dim).toInt)
      var sumSq = 0L
      var s = s0
      while (s < s1) {
        val lo = bytes(2 * s) & 0xFF
        val hi = bytes(2 * s + 1) & 0xFF
        val sample = (if (le) (hi << 8) | lo else (lo << 8) | hi).toShort.toInt
        sumSq += sample.toLong * sample
        s += 1
      }
      v(b) = (math.sqrt(sumSq.toDouble / (s1 - s0)) / 32768.0).toFloat
      b += 1
    }
    AudioFeatureParts(f.getSampleRate.toInt, channels, nFrames, v)
  }
  private case class AudioFeatureParts(sampleRate: Int, channels: Int,
                                       nFrames: Long, rms: Array[Float])

  /** STUB decode kernel for formats with no JRE codec (video/audio): a
    * real implementation would wrap that codec via JNI/FFI. The fake
    * derives deterministic "pixels" stats from the payload bytes so
    * tests can assert exact values.
    */
  private def stubDecode(content: Array[Byte]): (Int, Int) = {
    val n = content.length
    (n % 640 + 1, n % 480 + 1) // fake width×height
  }

  /** STUB embedding kernel: deterministic per-byte folding into a
    * fixed-dim float vector (a real kernel would run a vision encoder
    * over the decoded batch).
    */
  private def stubEmbed(content: Array[Byte], dim: Int): Array[Float] = {
    val v = new Array[Float](dim)
    var i = 0
    while (i < content.length) {
      v(i % dim) += (content(i) & 0xFF) / 255.0f
      i += 1
    }
    v
  }

  // -------------------------------------------------------------- stages

  /** Decode + embed: one pass per partition, streamed. Output drops the
    * binary payload — after this stage shuffles carry only features.
    *
    * Image formats decode REAL pixels via `ImageIO` (width/height and
    * band-luminance features from the actual bitmap — hash-verified
    * end-to-end in q_image_decode against images of arithmetically-known
    * dimensions); formats without a JRE codec fall back to the
    * documented deterministic stub.
    */
  def imageFeatures(assets: Dataset[Asset], dim: Int = 16): Dataset[ImageFeature] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // non-JRE codecs: init decoder context HERE, once per partition
      it.map { a =>
        decodeImage(a) match {
          case Some(img) =>
            ImageFeature(a.asset_id, img.getWidth, img.getHeight,
              bandLuminance(img, dim))
          case None =>
            val (w, h) = stubDecode(a.content)
            ImageFeature(a.asset_id, w, h, stubEmbed(a.content, dim))
        }
      }
    }
  }

  /** Decode + band-RMS features for audio assets: one pass per
    * partition, streamed; payload dropped on output. 16-bit PCM
    * WAV/AIFF/AU decode REAL samples via `javax.sound.sampled`
    * (hash-verified end-to-end in q_audio_decode against
    * arithmetically-constructed WAVs); other audio payloads fall back
    * to the documented stub (stub rows report sample_rate 0 — a real
    * rate is only ever reported from a real decode).
    */
  def audioFeatures(assets: Dataset[Asset], dim: Int = 4): Dataset[AudioFeature] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        decodeAudio(a) match {
          case Some(ais) =>
            val p = bandRms(ais, dim)
            AudioFeature(a.asset_id, p.sampleRate, p.channels, p.nFrames,
              if (p.sampleRate == 0) 0L else p.nFrames * 1000L / p.sampleRate,
              p.rms)
          case None =>
            val (w, h) = stubDecode(a.content)
            AudioFeature(a.asset_id, 0, 1, w.toLong * h, a.duration_ms,
              stubEmbed(a.content, dim))
        }
      }
    }
  }

  /** Resize: payload-in, payload-out per-partition stage. Image formats
    * resize REAL pixels (ImageIO decode → bilinear re-render at
    * w·scale/100 × h·scale/100, clamped to ≥1px → PNG re-encode);
    * payloads with no JRE codec keep the documented byte-truncation
    * stub. Both keep the map-only, no-shuffle shape of a real resize
    * pass; the decoder/encoder context lives once per partition.
    */
  def resize(assets: Dataset[Asset], scalePercent: Int): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    require(scalePercent >= 1, s"scalePercent $scalePercent")
    assets.mapPartitions { it =>
      it.map { a =>
        decodeImage(a) match {
          case Some(img) =>
            val w = math.max(1, img.getWidth * scalePercent / 100)
            val h = math.max(1, img.getHeight * scalePercent / 100)
            val out = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            a.copy(content = bos.toByteArray, format = "image/png")
          case None =>
            val keep = math.max(1, a.content.length * scalePercent / 100)
            a.copy(content = a.content.take(keep))
        }
      }
    }
  }

  /** Frame sampling: fan a video row out into `n` evenly-spaced frame
    * rows. The fan-out is declarative (posexplode over a generated
    * index array — codegen'd, no UDF); only the per-frame payload slice
    * is stubbed. ts_ms(i) = i * duration/n.
    */
  def sampleFrames(assets: DataFrame, n: Int): DataFrame =
    assets
      .where(col("media_type") === "video")
      .select(col("asset_id"), col("duration_ms"),
        posexplode(sequence(lit(0), lit(n - 1))).as(Seq("_pos", "frame_idx")))
      .select(col("asset_id"), col("frame_idx").cast(IntegerType).as("frame_idx"),
        floor(col("frame_idx").cast(LongType) * col("duration_ms") / n)
          .cast(LongType).as("ts_ms"))

  /** 64-bit perceptual difference hash (dHash) over REAL decoded
    * pixels: the image is area-averaged onto a 9-wide × 8-tall
    * grayscale grid and bit r·8+c is set iff cell (r, c+1) is brighter
    * than cell (r, c) — the standard near-dup key for images (robust to
    * re-encode, mild resize and brightness shifts, since only the SIGN
    * of neighbor gradients survives). Integer-exact: cells keep raw
    * (r+g+b) sums and pixel counts, and brightness compares
    * cross-multiplied sums (sumR·cntL > sumL·cntR) — no float ever, so
    * the hash is bit-reproducible across JVMs/engines.
    *
    * Payloads with no JRE codec fall back to a documented stub grid
    * (payload bytes folded into the same 72 cells) so the pipeline
    * shape holds for codec-less formats. Map-only; the payload is
    * dropped on output so downstream near-dup joins shuffle 8-byte
    * hashes, never pixels.
    */
  def dHash64(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val (sums, cnts) = decodeImage(a) match {
          case Some(img) => gridSums(img)
          case None => stubGrid(a.content)
        }
        var hash = 0L
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 8) { // compare cell (r,c) vs (r,c+1) on the 9-wide grid
            val l = r * 9 + c
            val q = l + 1
            if (sums(q) * cnts(l) > sums(l) * cnts(q))
              hash |= 1L << (r * 8 + c)
            c += 1
          }
          r += 1
        }
        (a.asset_id, hash)
      }
    }.toDF("asset_id", "dhash")
  }

  /** 9×8 area-mean grid as exact integer (sum, count) pairs, row-major:
    * cell (r, c) covers pixel rows [r·h/8, (r+1)·h/8) × cols
    * [c·w/9, (c+1)·w/9), clamped to at least one pixel for tiny images.
    */
  private def gridSums(img: java.awt.image.BufferedImage): (Array[Long], Array[Long]) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Long](72)
    val cnts = new Array[Long](72)
    var r = 0
    while (r < 8) {
      val y0 = math.min(r * h / 8, h - 1)
      val y1 = math.max(y0 + 1, (r + 1) * h / 8)
      var c = 0
      while (c < 9) {
        val x0 = math.min(c * w / 9, w - 1)
        val x1 = math.max(x0 + 1, (c + 1) * w / 9)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        sums(r * 9 + c) = sum
        cnts(r * 9 + c) = (y1 - y0).toLong * (x1 - x0)
        c += 1
      }
      r += 1
    }
    (sums, cnts)
  }

  /** STUB grid for codec-less payloads: bytes folded round-robin into
    * the 72 cells (deterministic, the [[stubEmbed]] discipline).
    */
  private def stubGrid(content: Array[Byte]): (Array[Long], Array[Long]) = {
    val sums = new Array[Long](72)
    val cnts = new Array[Long](72)
    java.util.Arrays.fill(cnts, 1L)
    var i = 0
    while (i < content.length) {
      sums(i % 72) += (content(i) & 0xFF)
      i += 1
    }
    (sums, cnts)
  }

  /** Binary fingerprint + size metadata — exact-dedup keys for media
    * (the multimodal analogue of text dedup): no decode needed, so this
    * stays entirely in codegen.
    */
  def contentMeta(assets: DataFrame): DataFrame =
    assets.select(
      col("asset_id"),
      col("media_type"),
      length(col("content")).cast(LongType).as("n_bytes"),
      md5(col("content")).as("content_md5"),
      xxhash64(col("content")).as("content_xx64"))
}
