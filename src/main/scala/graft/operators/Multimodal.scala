package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns plus typed metadata, with decode / feature-extraction running
  * batched per partition (the Scala analogue of `mapInPandas` — one
  * executor-side loop over an iterator of rows, amortizing per-partition
  * codec setup).
  *
  * The IMAGE path is a real codec: payloads are actual PNG bytes and
  * [[decodeImage]] runs them through `javax.imageio` (public JDK API),
  * emitting decoded dimensions, channel count, and per-channel pixel
  * means. Because the synthetic fixture's PNGs are solid-fill images
  * whose dimensions and color are analytic functions of the document row
  * ([[syntheticPng]]), every decoded feature is recomputable by a SQL
  * oracle — the decode is content-checked end to end. Audio/video
  * payloads keep the deterministic byte-histogram stub ([[decodeStub]]):
  * this container ships no audio/video codec libraries, and the stub has
  * the exact signature a real one would (bytes → fixed-shape floats).
  */
object Multimodal {

  // ImageIO's default ImageInputStream is DISK-cache-backed: every
  // in-memory decode writes a temp file first. All payloads here are
  // byte arrays already in memory — cache to heap instead (process-wide,
  // set once at class init; executors inherit it on first task).
  ImageIO.setUseCache(false)

  /** media table schema: the shape a 100 TB multimodal lake would use
    * (binary payload partition-pruned by kind/date, metadata columns for
    * predicate pushdown without touching bytes).
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("bytes", BinaryType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
  ))

  /** Synthetic-image parameterization: dimensions and fill color are pure
    * functions of (id, nChars), so a SQL oracle can predict what a correct
    * PNG decode must return. PNG is lossless — the decoded pixel means
    * equal the fill color exactly.
    */
  def imageWidth(id: Long): Int = 16 + (id % 48).toInt
  def imageHeight(nChars: Long): Int = 16 + (nChars % 32).toInt
  def imageRgb(id: Long): (Int, Int, Int) =
    ((id % 256).toInt, ((id * 7) % 256).toInt, ((id * 13) % 256).toInt)

  /** Deterministic real PNG: a solid-fill RGB image encoded with
    * `javax.imageio`. Used by the fixture builder; any PNG from any
    * source decodes through the same [[decodeImage]] path.
    */
  def syntheticPng(id: Long, nChars: Long): Array[Byte] = {
    val (w, h) = (imageWidth(id), imageHeight(nChars))
    val (r, g, b) = imageRgb(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    if (!ImageIO.write(img, "png", bos))
      sys.error("no PNG writer available in this JRE")
    bos.toByteArray
  }

  /** Decoded-image summary: true dimensions, channel count, and the mean
    * of each RGB channel over all pixels.
    */
  final case class DecodedImage(width: Int, height: Int, channels: Int,
                                means: Array[Float])

  /** REAL image decode via `javax.imageio`: parses the container format
    * (PNG/JPEG/BMP/GIF — whatever the JRE's readers cover), walks the
    * pixels through the color model, and reduces to per-channel means.
    * Loud failure on undecodable bytes — silently emitting zeros would
    * poison downstream features.
    */
  def decodeImage(bytes: Array[Byte]): DecodedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null)
      sys.error(s"decodeImage: undecodable image payload (${bytes.length} bytes)")
    val (w, h) = (img.getWidth, img.getHeight)
    val channels = img.getRaster.getNumBands
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y) // color-model-correct ARGB
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    DecodedImage(w, h, channels,
      Array((sr.toDouble / n).toFloat, (sg.toDouble / n).toFloat, (sb.toDouble / n).toFloat))
  }

  /** Deterministic gradient PNG (same id-keyed palette as
    * [[syntheticPng]], plus position terms): non-constant pixels make
    * perceptual hashes non-degenerate, which the solid fill cannot
    * (every solid image aHashes to 0). Used by the m3/m4 queries.
    */
  def syntheticGradientPng(id: Long, nChars: Long): Array[Byte] = {
    val (w, h) = (imageWidth(id), imageHeight(nChars))
    val (r, g, b) = imageRgb(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rr = (r + 8 * x + 3 * y) % 256
        val gg = (g + 5 * x + 7 * y) % 256
        val bb = (b + 2 * x + 11 * y) % 256
        img.setRGB(x, y, (rr << 16) | (gg << 8) | bb)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    if (!ImageIO.write(img, "png", bos))
      sys.error("no PNG writer available in this JRE")
    bos.toByteArray
  }

  /** Nearest-neighbor resize — the pre-embedding normalization step.
    * Direct pixel sampling (no Graphics2D rendering pipeline), so the
    * result is bit-deterministic across JREs and platforms — a property
    * interpolating resamplers don't guarantee and that golden-file
    * oracles require.
    */
  def resizeImage(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val sy = (y.toLong * img.getHeight / h).toInt
      var x = 0
      while (x < w) {
        val sx = (x.toLong * img.getWidth / w).toInt
        out.setRGB(x, y, img.getRGB(sx, sy))
        x += 1
      }
      y += 1
    }
    out
  }

  /** 64-bit perceptual average-hash (aHash): resize to 8×8, grayscale
    * each cell (r+g+b), set bit (8y+x) iff the cell is brighter than the
    * image mean — integer-only (`gray·64 > Σgray`) so no float rounding
    * can flip a borderline bit between platforms. Hamming distance over
    * aHashes is the image analog of SimHash near-dup: crops/recompressions
    * of the same picture land within a few bits.
    */
  def aHash(bytes: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null)
      sys.error(s"aHash: undecodable image payload (${bytes.length} bytes)")
    val small = resizeImage(img, 8, 8)
    val grays = new Array[Long](64)
    var sum = 0L
    var i = 0
    while (i < 64) {
      val rgb = small.getRGB(i % 8, i / 8)
      grays(i) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      sum += grays(i)
      i += 1
    }
    var hash = 0L
    i = 0
    while (i < 64) {
      if (grays(i) * 64L > sum) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** 64-bit DCT perceptual hash (pHash, Krawetz "Looks Like It" /
    * pHash.org — the public algorithm): resize to 32×32, grayscale
    * (r+g+b, the same gray [[aHash]] uses), 2-D DCT-II over the 32×32
    * grid, keep the top-left 8×8 LOW-FREQUENCY coefficient block, and
    * set bit (8v+u) iff the coefficient exceeds the block mean computed
    * EXCLUDING the DC term (whose magnitude would otherwise drown the
    * mean). pHash survives the brightness/contrast/gamma shifts that
    * flip aHash bits, because those perturb coefficient MAGNITUDES far
    * less than per-pixel threshold comparisons — it is what a
    * production image-dedup pass runs next to (or instead of) aHash.
    *
    * Bit-determinism across JVMs/platforms: the DCT basis uses
    * StrictMath.cos (fdlibm bit-specified, unlike Math.cos's 1-ulp
    * license) and the sums are fixed-order IEEE double arithmetic, so a
    * captured run is a stable golden oracle exactly like aHash's.
    */
  def pHash(bytes: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null)
      sys.error(s"pHash: undecodable image payload (${bytes.length} bytes)")
    val n = 32
    val small = resizeImage(img, n, n)
    val gray = new Array[Double](n * n)
    var i = 0
    while (i < n * n) {
      val rgb = small.getRGB(i % n, i / n)
      gray(i) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      i += 1
    }
    // separable 2-D DCT-II, only the first 8 output frequencies of each
    // dimension are ever read: rows first (32×8), then columns (8×8) —
    // O(n²·8) instead of the full O(n³)
    val basis = Array.tabulate(8, n)((u, x) =>
      StrictMath.cos(StrictMath.PI * (2 * x + 1) * u / (2.0 * n)))
    val rows = Array.ofDim[Double](n, 8) // rows(y)(u) = Σ_x gray(y,x)·cos(u,x)
    var y = 0
    while (y < n) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < n) { s += gray(y * n + x) * basis(u)(x); x += 1 }
        rows(y)(u) = s
        u += 1
      }
      y += 1
    }
    val coef = new Array[Double](64) // coef(8v+u) = Σ_y rows(y)(u)·cos(v,y)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < n) { s += rows(yy)(u) * basis(v)(yy); yy += 1 }
        coef(8 * v + u) = s
        u += 1
      }
      v += 1
    }
    var sum = 0.0
    i = 1
    while (i < 64) { sum += coef(i); i += 1 }
    val mean = sum / 63.0
    var hash = 0L
    i = 0
    while (i < 64) {
      if (coef(i) > mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** (media_id, ahash) for every image row — the batched decode pass
    * (same mapPartitions shape as [[extractFeatures]]: per-partition
    * codec setup, one iterator sweep).
    */
  def imageHashes(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("ahash", org.apache.spark.sql.types.LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("bytes"))
      .mapPartitions { rows =>
        rows.map(r => Row(r.getLong(0), aHash(r.getAs[Array[Byte]]("bytes"))))
      }(enc)
  }

  /** (media_id, phash) for every image row — [[imageHashes]] with the
    * DCT [[pHash]]; one decode + one O(32²·8) transform per image, same
    * batched partition sweep. The column is named so a caller can join
    * both hashes onto one media row without collisions.
    */
  def imagePHashes(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("phash", org.apache.spark.sql.types.LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.filter(col("kind") === "image")
      .select(col("media_id"), col("bytes"))
      .mapPartitions { rows =>
        rows.map(r => Row(r.getLong(0), pHash(r.getAs[Array[Byte]]("bytes"))))
      }(enc)
  }

  /** Image near-dup candidates: the 64-bit perceptual hash (`hashCol`:
    * aHash by default, pHash for the DCT signature) splits into 4×16-bit
    * bands; images sharing any band bucket-join (one shuffle on the band
    * key, same recall trade as SimHash banding — pairs differing in all
    * four bands are missed), then exact Hamming distance filters.
    * Returns (id1, id2, hamming) with id1 < id2, deduped across bands.
    */
  /** 4×16-bit band decomposition of a 64-bit perceptual hash:
    * (media_id, __h = the full hash, band, sig). Shared by the batch
    * near-dup generator ([[imageNearDupPairs]]) and the streaming image
    * screen ([[graft.CurateStreamApp]]'s band-index state), so both use
    * byte-identical signatures.
    */
  def imageHashBands(hashes: DataFrame, hashCol: String): DataFrame =
    hashes.select(col("media_id"), col(hashCol).as("__h"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col(hashCol), b * 16).bitwiseAND(0xffffL).as("sig"))): _*)).as("bs"))
      .select(col("media_id"), col("__h"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))

  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int,
      maxBucket: Int = 10000, hashCol: String = "ahash"): DataFrame = {
    val bandedRaw = imageHashBands(hashes, hashCol)
    // the bucket-size gate is a count aggregate + BROADCAST semi-join:
    // (band, sig) ranges over 4 × 2^16 = 262,144 values no matter how
    // many images exist, so the survivor set is domain-bounded and the
    // semi-join never exchanges the banded stream (a shuffle_hash hint
    // did — a full extra exchange before the self-join's own). Keeping
    // 2..maxBucket members also keeps singletons, which can't pair, out
    // of the self-join's build side.
    val kept = Buckets.kept(bandedRaw, Seq("band", "sig"), 2, maxBucket)
    val banded = bandedRaw.join(broadcast(kept), Seq("band", "sig"), "left_semi")
    val a = banded.select(col("band"), col("sig"),
      col("media_id").as("id1"), col("__h").as("h1"))
    val b = banded.select(col("band"), col("sig"),
      col("media_id").as("id2"), col("__h").as("h2"))
    // Hamming BEFORE the cross-band distinct: the xor+popcount is a few
    // cycles per row, while distinct is an exchange+aggregate over every
    // surviving row — filtering first shrinks exactly the expensive part
    // (pairs failing the verify would otherwise ride the shuffle just to
    // be dropped after dedup; the verdict per pair is deterministic, so
    // filter/distinct commute).
    a.join(b, Seq("band", "sig")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Synthetic-audio parameterization: sample rate, sample count, and
    * amplitude are pure functions of (id, nChars), and the payload is a
    * ±amplitude square wave — whose RMS is EXACTLY the amplitude — so a
    * SQL oracle can predict every decoded feature with integer
    * arithmetic (no float drift between engines).
    */
  def audioSampleRate(id: Long): Int = 8000 + 1000 * (id % 5).toInt
  def audioNumSamples(nChars: Long): Int = 400 + (nChars % 800).toInt
  def audioAmplitude(id: Long): Int = 1000 + (id % 9000).toInt

  /** Deterministic real WAV: 16-bit PCM mono, encoded with the stock
    * `javax.sound.sampled` writer (public JDK API — the same "real codec,
    * no external libs" rule as the PNG path). Square wave with period 8.
    */
  /** Cached `javax.sound.sampled.spi` providers, resolved once per JVM
    * through the public `ServiceLoader` API. Every `AudioSystem`
    * entry point funnels through the JDK's SYNCHRONIZED provider
    * registry, which under a 32-thread executor makes audio codec work
    * anti-scale (measured: 20k WAV synth+decodes took 1.8 s on one
    * thread and 3.5 s on 32 via AudioSystem; 0.18 s / 0.02 s through
    * these cached providers — linear again). The provider objects are
    * stateless per call, so sharing them across tasks is safe.
    */
  private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(sys.error("no WAVE AudioFileWriter SPI in this JRE"))
  }
  private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    val probe = syntheticWav(1, 1)
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala
      .find { r =>
        try { r.getAudioInputStream(new ByteArrayInputStream(probe)).close(); true }
        catch { case _: Exception => false }
      }
      .getOrElse(sys.error("no WAVE AudioFileReader SPI in this JRE"))
  }

  def syntheticWav(id: Long, nChars: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}
    val (sr, n, amp) = (audioSampleRate(id), audioNumSamples(nChars), audioAmplitude(id))
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = if ((i / 4) % 2 == 0) amp else -amp
      pcm(2 * i) = (s & 0xff).toByte // little-endian int16
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    wavWriter.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Decoded-audio summary: format facts plus signal RMS. */
  final case class DecodedAudio(sampleRate: Int, channels: Int,
                                nSamples: Long, rms: Double)

  /** REAL audio decode via `javax.sound.sampled`: parses the WAV/AIFF/AU
    * container, reads the PCM frames through the reported format, and
    * reduces to sample count + RMS. 16-bit PCM only (the format the
    * stock JRE fully covers); loud failure otherwise — silently emitting
    * zeros would poison downstream features.
    */
  def decodeWav(bytes: Array[Byte]): DecodedAudio = {
    import javax.sound.sampled.AudioSystem
    // cached WAVE reader on the hot path; AudioSystem's registry only as
    // the fallback for the rarer containers (AIFF/AU) it also covers
    val ais =
      try wavReader.getAudioInputStream(new ByteArrayInputStream(bytes))
      catch { case _: Exception =>
        AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes)) }
    try {
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16)
        sys.error(s"decodeWav: only 16-bit PCM supported, got ${fmt.getSampleSizeInBits}-bit")
      val data = ais.readAllBytes()
      val bigEndian = fmt.isBigEndian
      val n = data.length / 2
      var sumSq = 0.0
      var i = 0
      while (i < n) {
        val lo = data(2 * i) & 0xff
        val hi = data(2 * i + 1)
        val s = if (bigEndian) ((data(2 * i) << 8) | (data(2 * i + 1) & 0xff))
                else ((hi << 8) | lo)
        sumSq += s.toDouble * s
        i += 1
      }
      DecodedAudio(fmt.getSampleRate.toInt, fmt.getChannels,
        n.toLong / fmt.getChannels,
        if (n == 0) 0.0 else math.sqrt(sumSq / n))
    } finally ais.close()
  }

  /** Raw PCM samples (channel-mixed mono) for signal-level features that
    * need more than [[decodeWav]]'s RMS reduction. 16-bit PCM only, same
    * cached-reader hot path; multi-channel frames mix down by integer
    * mean so the result stays deterministic (no float channel weights).
    */
  def decodePcmMono(bytes: Array[Byte]): (Int, Array[Int]) = {
    import javax.sound.sampled.AudioSystem
    val ais =
      try wavReader.getAudioInputStream(new ByteArrayInputStream(bytes))
      catch { case _: Exception =>
        AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes)) }
    try {
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16)
        sys.error(s"decodePcmMono: only 16-bit PCM supported, got ${fmt.getSampleSizeInBits}-bit")
      val data = ais.readAllBytes()
      val bigEndian = fmt.isBigEndian
      val ch = fmt.getChannels
      val nFrames = data.length / (2 * ch)
      val out = new Array[Int](nFrames)
      var f = 0
      while (f < nFrames) {
        var acc = 0
        var c = 0
        while (c < ch) {
          val i = 2 * (f * ch + c)
          val s = if (bigEndian) ((data(i) << 8) | (data(i + 1) & 0xff))
                  else ((data(i + 1) << 8) | (data(i) & 0xff))
          acc += s
          c += 1
        }
        out(f) = acc / ch
        f += 1
      }
      (fmt.getSampleRate.toInt, out)
    } finally ais.close()
  }

  /** Spectral peak fingerprint per 256-sample frame — the constellation
    * signature a production audio-dedup/audio-search pass runs (Wang,
    * ISMIR'03 "An Industrial-Strength Audio Search Algorithm" — per-frame
    * band-wise spectral peaks; landmark pairing happens downstream at
    * match time). Each frame: Hann window, real DFT magnitudes over bins
    * 0..127 (N=256), the 128 bins split into 8 bands of 16, the argmax
    * bin WITHIN each band packed as one byte → a 64-bit fingerprint per
    * frame. Peak POSITIONS, not magnitudes, so the signature is invariant
    * to gain — two copies of a clip ripped at different volumes
    * fingerprint identically, which per-sample hashes can't do.
    *
    * A band emits its argmax only when the peak clears a NOISE FLOOR
    * (mag² ≥ 1e-9 × the frame's total mag²); below it the band packs the
    * 0xff "no peak" sentinel. Without the floor, bands holding nothing
    * but double-rounding residue (~1e-28 relative mag²) would encode an
    * argmax of numerical noise — which VARIES WITH GAIN and would silently
    * break the invariance the signature exists for (a real pipeline's
    * landmark extraction thresholds against the noise floor for the same
    * reason).
    *
    * Bit-determinism: StrictMath trig tables + fixed-order IEEE sums
    * (same golden-oracle license as [[pHash]]); argmax ties resolve to
    * the lowest bin (strict >). Frames are hop=128 apart and only full
    * frames fingerprint (a sub-frame tail is dropped, not zero-padded).
    */
  def audioFingerprint(bytes: Array[Byte]): Array[Long] = {
    val (_, pcm) = decodePcmMono(bytes)
    val frame = 256
    val hop = 128
    if (pcm.length < frame) return Array.emptyLongArray
    val nFrames = (pcm.length - frame) / hop + 1
    val hann = Array.tabulate(frame)(i =>
      0.5 - 0.5 * StrictMath.cos(2.0 * StrictMath.PI * i / frame))
    // precomputed DFT basis for bins 0..127 (k ranges over half the
    // spectrum of a real signal); cos/sin tables share the (k·i mod 256)
    // grid so the whole basis is 256 StrictMath evaluations, not 256·128
    val cosT = Array.tabulate(frame)(j =>
      StrictMath.cos(2.0 * StrictMath.PI * j / frame))
    val sinT = Array.tabulate(frame)(j =>
      StrictMath.sin(2.0 * StrictMath.PI * j / frame))
    val out = new Array[Long](nFrames)
    var f = 0
    while (f < nFrames) {
      val base = f * hop
      val w = new Array[Double](frame)
      var i = 0
      while (i < frame) { w(i) = pcm(base + i) * hann(i); i += 1 }
      // pass 1: per-band peak (mag², bin) + the frame's total mag²
      val bandBest = new Array[Double](8)
      val bandBin = new Array[Int](8)
      var total = 0.0
      var band = 0
      while (band < 8) {
        var best = -1.0
        var bestBin = 0
        var k = band * 16
        val kEnd = k + 16
        while (k < kEnd) {
          var re = 0.0
          var im = 0.0
          i = 0
          while (i < frame) {
            val j = (k * i) & 255 // k·i mod 256 indexes the shared table
            re += w(i) * cosT(j)
            im -= w(i) * sinT(j)
            i += 1
          }
          val mag = re * re + im * im
          total += mag
          if (mag > best) { best = mag; bestBin = k - (kEnd - 16) }
          k += 1
        }
        bandBest(band) = best
        bandBin(band) = bestBin
        band += 1
      }
      // pass 2: pack, flooring noise-only bands to the 0xff sentinel
      val floor = 1e-9 * total
      var fp = 0L
      band = 0
      while (band < 8) {
        val b = if (bandBest(band) >= floor && total > 0.0) bandBin(band) else 0xff
        fp |= (b.toLong & 0xffL) << (8 * band)
        band += 1
      }
      out(f) = fp
      f += 1
    }
    out
  }

  /** (media_id, frame_idx, fp) for every audio row — the batched decode
    * pass ([[imageHashes]] shape), one row per fingerprinted frame.
    */
  def audioFingerprints(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("frame_idx", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("fp", org.apache.spark.sql.types.LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.filter(col("kind") === "audio")
      .select(col("media_id"), col("bytes"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          audioFingerprint(r.getAs[Array[Byte]]("bytes")).iterator.zipWithIndex
            .map { case (fp, idx) => Row(id, idx.toLong, fp) }
        }
      }(enc)
  }

  /** Tone-mixture parameterization for the audio-DEDUP fixture. The
    * square-wave fixture ([[syntheticWav]]) is useless for dedup — every
    * clip shares the period-8 wave, so all clips fingerprint identically
    * and the component graph degenerates to one clique. Here each clip is
    * a mixture of 8 sinusoids, ONE PER FINGERPRINT BAND, whose bin inside
    * its band is a splitmix64-mixed function of the clip's TONE GROUP
    * (`doc_id / 21` — audio ids are every 3rd doc id, so exactly 7
    * consecutive audio rows share a group): group members share the
    * waveform but keep their own per-id gain and length, i.e. they are
    * volume-normalized re-rips of one clip — the exact duplicate class
    * the gain-invariant constellation signature exists to catch, and the
    * one per-sample hashing cannot. Distinct groups mix to distinct
    * 8-byte fingerprints (16^8 space, splitmix-scattered), so bucket
    * sizes stay O(group), never O(corpus) — the fixture scales linearly.
    */
  def toneGroup(id: Long): Long = id / 21

  /** splitmix64 finalizer (Steele et al., public SplittableRandom mix) —
    * a well-mixed deterministic hash with no library dependency.
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The DFT bin (0..127) band `b` of group `g`'s tone mixture peaks at:
    * band base 16·b plus a mixed 4-bit offset — except bin 0 (DC) is
    * nudged to 1 (a DC component carries no tone).
    */
  def toneBin(g: Long, b: Int): Int = {
    val off = (mix64(g * 8 + b) & 0xf).toInt
    val bin = 16 * b + off
    if (bin == 0) 1 else bin
  }

  /** Deterministic tone-mixture WAV: Σ_b A·sin(2π·toneBin(g,b)·i/256),
    * A = amplitude/8 (8 unit sines bound the int16 range), same writer /
    * sample-rate / length parameterization as [[syntheticWav]]. All
    * frequencies are exact multiples of 1/256 — the fingerprint's frame
    * size — so every 128-hop frame sees the same circularly-shifted
    * waveform and lands the same 8 per-band peaks regardless of gain.
    */
  def syntheticToneWav(id: Long, nChars: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}
    val (sr, n) = (audioSampleRate(id), audioNumSamples(nChars))
    val amp = audioAmplitude(id) / 8.0
    val g = toneGroup(id)
    val bins = Array.tabulate(8)(b => toneBin(g, b))
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      var acc = 0.0
      var b = 0
      while (b < 8) {
        acc += amp * StrictMath.sin(2.0 * StrictMath.PI * bins(b) * i / 256.0)
        b += 1
      }
      val s = StrictMath.round(acc).toInt
      pcm(2 * i) = (s & 0xff).toByte // little-endian int16
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    wavWriter.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private val toneWavUdf = udf { (id: Long, nChars: Long) => syntheticToneWav(id, nChars) }

  /** Audio-only media table with tone-mixture payloads — the audio-dedup
    * fixture (the [[gradientImagesFromDocuments]] analog: the plain
    * square-wave fixture is fingerprint-degenerate, these aren't). Same
    * audio id slice as [[mediaFromDocuments]] (doc_id % 3 == 1).
    */
  def toneAudioFromDocuments(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 3 === 1).select(
      col("doc_id").as("media_id"), lit("audio").as("kind"),
      toneWavUdf(col("doc_id"), col("n_chars")).as("bytes"))

  /** Query-clip fixture for [[audioMatches]]: ONE clip per tone group
    * (audio ids ≡ 1 mod 21), same group waveform at a DIFFERENT length
    * (n_chars + 391 → a different [[audioNumSamples]]) — i.e. a
    * truncated/extended re-rip whose source clip the matcher must find
    * by shared frame fingerprints, not by byte identity.
    */
  def toneQueriesFromDocuments(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 21 === 1).select(
      col("doc_id").as("media_id"), lit("audio").as("kind"),
      toneWavUdf(col("doc_id"), col("n_chars") + 391).as("bytes"))

  /** Audio near-dup candidates + verify over constellation fingerprints
    * ([[audioFingerprints]] output): clips sharing any DISTINCT frame
    * fingerprint pair up through [[Buckets.pairs]] (the d2 LSH shape —
    * ONE shuffle on the fp key, quadratic only in bucket size, never in n);
    * verify = fingerprint CONTAINMENT: shared distinct fps over the
    * SMALLER clip's distinct-fp count (containment, not Jaccard, because
    * a re-rip may be truncated — d23's asymmetric-signal argument at the
    * audio modality). The fp key is data-bounded (2^64 space), NOT
    * domain-bounded like m4's 4×2^16 band space, so the bucket gate must
    * ride the window, not a broadcast survivor set.
    * Returns (id1, id2, shared_fps, containment) with id1 < id2.
    */
  def audioNearDupPairs(fps: DataFrame, minShared: Int = 1,
      minContainment: Double = 0.8, maxBucket: Int = 10000): DataFrame = {
    // the all-sentinel fp (silence) is excluded like audioMatches does:
    // without the filter a mostly-silent clip (distinct fps ≈ {-1})
    // reaches containment 1.0 against ANY clip holding one silent frame
    // and dedups against it. nfp counts non-silent fps only, so both the
    // numerator and denominator of containment live in signal space.
    val sigs = fps.filter(col("fp") =!= lit(-1L))
      .select(col("media_id"), col("fp")).distinct()
    val perMedia = sigs.groupBy(col("media_id")).agg(count(lit(1)).as("nfp"))
    Buckets.pairs(sigs, Seq("fp"), "media_id", maxBucket, "id1", "id2", "shared_fps")
      .join(perMedia.withColumnRenamed("media_id", "id1")
        .withColumnRenamed("nfp", "nfp1"), Seq("id1"))
      .join(perMedia.withColumnRenamed("media_id", "id2")
        .withColumnRenamed("nfp", "nfp2"), Seq("id2"))
      .select(col("id1"), col("id2"), col("shared_fps"),
        round(col("shared_fps") / least(col("nfp1"), col("nfp2")), 6)
          .as("containment"))
      .filter(col("shared_fps") >= minShared &&
        col("containment") >= minContainment)
  }

  /** Constellation MATCHING — the retrieval half of the Wang ISMIR'03
    * pipeline whose fingerprint half is [[audioFingerprint]]: a query
    * clip's frame fingerprints equi-join the index's, and each matching
    * frame pair votes for (query, index clip, time offset qf−if); a true
    * source alignment concentrates votes on ONE offset diagonal, noise
    * scatters. Returns the top-scoring (media_id, delta, votes) per
    * query (ties → lowest media_id, then delta — deterministic).
    *
    * Scale shape: one equi-join on the 64-bit fp key + one map-side-
    * combined vote aggregate + a per-query top-1 (WindowGroupLimit) —
    * never a cross join. The all-sentinel fp (every band floored — i.e.
    * silence) is excluded on both sides, and index fps shared by more
    * than `maxBucket` clips are dropped (boilerplate audio — the same
    * megabucket trade every banded generator here makes).
    */
  def audioMatches(queryFps: DataFrame, indexFps: DataFrame,
      minVotes: Int = 1, maxBucket: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val silent = lit(-1L) // 8 × 0xff no-peak sentinel bytes
    val q = queryFps.filter(col("fp") =!= silent)
      .select(col("media_id").as("query_id"), col("frame_idx").as("qf"), col("fp"))
    val i = indexFps.filter(col("fp") =!= silent)
      .select(col("media_id"), col("frame_idx").as("ifx"), col("fp"))
    val kept = Buckets.kept(i, Seq("fp"), 1, maxBucket)
    val votes = q
      .join(i.join(kept, Seq("fp"), "left_semi"), Seq("fp"))
      .groupBy(col("query_id"), col("media_id"),
        (col("qf") - col("ifx")).as("delta"))
      .agg(count(lit(1)).as("votes"))
      .filter(col("votes") >= minVotes)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("media_id").asc, col("delta").asc)
    votes.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
  }

  /** STUB decoder for the codec-less kind (video): a 16-bin
    * histogram of byte values mod 16, normalized — deterministic,
    * fixed-shape, same signature a real decoder would have.
    */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](16)
    var i = 0
    while (i < bytes.length) { bins((bytes(i) & 0xff) % 16) += 1f; i += 1 }
    if (bytes.length > 0) { var j = 0; while (j < 16) { bins(j) /= bytes.length; j += 1 } }
    bins
  }

  private val pngUdf = udf { (id: Long, nChars: Long) => syntheticPng(id, nChars) }
  private val gradientPngUdf =
    udf { (id: Long, nChars: Long) => syntheticGradientPng(id, nChars) }

  /** Image-only media table with gradient payloads — the perceptual-hash
    * fixture (solid fills all aHash to 0; gradients don't).
    */
  def gradientImagesFromDocuments(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 3 === 0).select(
      col("doc_id").as("media_id"), lit("image").as("kind"),
      gradientPngUdf(col("doc_id"), col("n_chars")).as("bytes"))

  private val wavUdf = udf { (id: Long, nChars: Long) => syntheticWav(id, nChars) }

  /** Deterministic media table derived from the documents fixture: image
    * rows carry REAL PNG payloads ([[syntheticPng]]), audio rows REAL
    * WAV payloads ([[syntheticWav]]); video rows carry the utf-8 text
    * bytes (stand-in payload for the stubbed codec). Metadata
    * width/height mirror the true image dimensions — the "prune on
    * metadata, never touch bytes" columns.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      when(col("doc_id") % 3 === 0, pngUdf(col("doc_id"), col("n_chars")))
        .when(col("doc_id") % 3 === 1, wavUdf(col("doc_id"), col("n_chars")))
        .otherwise(encode(col("text"), "UTF-8")).as("bytes"),
      when(col("doc_id") % 3 === 0, lit(16) + (col("doc_id") % 48).cast("int"))
        .otherwise((col("n_chars") % 640).cast("int")).as("width"),
      when(col("doc_id") % 3 === 0, lit(16) + (col("n_chars") % 32).cast("int"))
        .otherwise((col("n_chars") % 480).cast("int")).as("height"))

  /** Batched feature extraction over the media table: one partition-level
    * iterator pass (per-partition setup — codec/model load — paid once,
    * not per row). Image rows go through the real `javax.imageio` decode,
    * audio rows through the real `javax.sound.sampled` decode (features =
    * [sample_rate, n_samples, rms], channels from the format); video
    * through the stub. Output drops the payload and adds: decoded_width /
    * decoded_height / channels (null where meaningless) and
    * `features: array<float>` (3 channel means for images, 3 audio facts,
    * 16 histogram bins for the stub kind).
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(media.schema.fields.filterNot(_.name == "bytes") ++ Seq(
      StructField("decoded_width", IntegerType, nullable = true),
      StructField("decoded_height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    // size the decode stage by CPU, not by input file layout: media rows
    // are small on disk (the scan packs many files into one
    // maxPartitionBytes-sized partition) but each row costs real codec
    // CPU, so a layout-derived partitioning can serialize the decode on
    // 1-2 tasks of a 32-core host (measured: 13.8 s single-task vs the
    // codec's ~80 µs/row). The round-robin exchange moves only the rows
    // about to be decoded — payload shuffle << decode CPU recovered.
    val spark = media.sparkSession
    val targetParts = spark.sparkContext.defaultParallelism
    val sized =
      if (media.rdd.getNumPartitions >= targetParts) media
      else media.repartition(targetParts)
    sized.mapPartitions { rows =>
      // per-partition setup happens HERE (ImageIO readers are looked up
      // per call; a heavier codec/model would be initialized once here)
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("bytes")
        val kind = r.getAs[String]("kind")
        val head = Seq(r.getAs[Long]("media_id"), kind,
          r.getAs[Int]("width"), r.getAs[Int]("height"))
        val tail: Seq[Any] =
          if (kind == "image") {
            val d = decodeImage(bytes)
            Seq(d.width, d.height, d.channels, d.means.toSeq)
          } else if (kind == "audio") {
            val d = decodeWav(bytes)
            Seq(null, null, d.channels,
              Seq(d.sampleRate.toFloat, d.nSamples.toFloat, d.rms.toFloat))
          } else Seq(null, null, null, decodeStub(bytes).toSeq)
        Row.fromSeq(head ++ tail)
      }
    }(enc)
  }

  /** Frame sampling for "video" payloads: every `step`-th frame index of
    * `n_frames = len/frameBytes + 1` frames, each frame identified by a
    * deterministic content hash (stub: md5 of media_id:idx — a real
    * implementation would hash decoded frame pixels). Pure column
    * expressions: the explode is the real plumbing, the decode is the stub.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, step: Int): DataFrame =
    media.filter(col("kind") === "video")
      .withColumn("n_frames", (length(col("bytes")).cast("long") / frameBytes).cast("long") + 1)
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(step.toLong))).as("frame_idx"))
      .withColumn("frame_hash", md5(concat(col("media_id"), lit(":"), col("frame_idx"))))
}
