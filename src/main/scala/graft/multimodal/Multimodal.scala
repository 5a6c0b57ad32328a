package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media asset: opaque bytes + typed metadata (SURVEY.md §2.7 #49).
  * kind ∈ {image, audio, video}. */
case class MediaAsset(doc_id: Long, kind: String, bytes: Array[Byte],
                      width: Int, height: Int, durationMs: Int)

/** A decoded frame/clip feature row produced by the pipeline. */
case class MediaFeature(doc_id: Long, kind: String, frameIdx: Int,
                        featDim: Int, feature: Array[Float])

/** Multimodal-column pipeline: binary media columns flowing through
  * typed Spark stages.
  *
  * Images decode for REAL via the JDK's `javax.imageio`
  * ([[ImageIoCodec]] — PNG/JPEG), audio via the JDK's
  * `javax.sound.sampled` ([[AudioWavCodec]] — 16-bit PCM WAV), and
  * video frames via `javax.imageio`'s multi-frame GIF reader
  * ([[GifVideoCodec]] — animated GIF), all zero added dependencies.
  * Compressed-media codecs (ffmpeg: mp4, mp3/ogg) are not in this
  * container, so [[StubCodec]] is their clearly-marked deterministic
  * stand-in: it derives "samples" from a rolling hash of the bytes,
  * and also catches undecodable image/audio/video records so a
  * malformed row can't kill a job.
  * Everything AROUND the codecs is the real article — schema
  * (binary column + typed metadata), per-partition batched decode via
  * `mapPartitions` (one codec instance per partition, the same shape
  * as an `mapInPandas`/Arrow batch UDF on a Python stack), frame
  * sampling, resize, and feature extraction — and is what matters for
  * the 100 TB plan: media bytes never pass through a shuffle; decode
  * is a narrow map stage; only small feature vectors aggregate.
  */
object Multimodal {

  /** Row-major mean-pooled BT.601 luma over n proportional blocks —
    * the shared feature kernel behind [[ImageIoCodec]] (stills) and
    * [[GifVideoCodec]] (animation frames). */
  private def poolLuma(img: java.awt.image.BufferedImage, n: Int): Array[Float] = {
    val w = img.getWidth; val h = img.getHeight
    val total = w.toLong * h
    val sums = new Array[Double](n)
    val cnts = new Array[Long](n)
    var idx = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000.0 / 255.0
        val slot = (idx * n / total).toInt
        sums(slot) += lum; cnts(slot) += 1
        idx += 1; x += 1
      }
      y += 1
    }
    Array.tabulate(n)(i => if (cnts(i) > 0) (sums(i) / cnts(i)).toFloat else 0.0f)
  }

  /** REAL image codec: PNG/JPEG (and any other `javax.imageio`
    * service-provider format in the JDK — zero added dependencies)
    * decoded to an n-dim luminance feature via [[poolLuma]].
    * Deterministic: PNG/JPEG decode and `getRGB`'s sRGB conversion
    * are pixel-exact in the JDK, and the pooling is fixed-order
    * arithmetic. */
  object ImageIoCodec {
    /** None when the bytes are not a decodable image (caller falls
      * back to [[StubCodec]] — a malformed record must not kill a
      * 100 TB job). */
    def decode(bytes: Array[Byte], n: Int): Option[Array[Float]] =
      try {
        // MemoryCacheImageInputStream: plain ImageIO.read(InputStream)
        // would spill each record to a temp FILE cache — per-record
        // disk I/O in the hot decode stage for data already in memory.
        // ImageIO.read(ImageInputStream) CLOSES the stream itself on a
        // successful read (OpenJDK 17) and leaves it open only on the
        // no-reader null-return path — so close idempotently: swallow
        // the already-closed IOException instead of letting it turn a
        // good decode into a stub fallback.
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val decoded =
          try javax.imageio.ImageIO.read(iis)
          finally try iis.close() catch { case _: java.io.IOException => () }
        Option(decoded).map(poolLuma(_, n))
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** REAL video codec for the one multi-frame container the JDK ships
    * a decoder for: animated GIF via `javax.imageio` (same
    * zero-dependency story as [[ImageIoCodec]]/[[AudioWavCodec]]).
    *
    * Frames are COMPOSITED, not read raw: optimized GIFs store most
    * frames as delta sub-rectangles against the composited previous
    * frame, so [[decodeAll]] plays the animation onto a canvas —
    * each stored frame drawn at its ImageDescriptor offset, the
    * `restoreToBackgroundColor` disposal honored by clearing the
    * frame's rect, and `restoreToPrevious` by snapshotting the rect
    * before the draw and putting it back after pooling — and pools
    * the canvas per frame. One reader
    * pass per clip: features for ALL frames come from a single
    * container parse, never O(frames) re-parses. Indices beyond the
    * clip LOOP (`frameIdx mod frameCount` — the sampler's stride
    * indexing never strands a short clip on the stub). ffmpeg
    * containers (mp4 etc.) have no JDK reader and stay on the
    * labeled stub. */
  object GifVideoCodec {
    /** True when the bytes are a GIF container — the domain
      * [[decodeAll]] is EXPECTED to handle (the outage-counter gate,
      * mirroring [[AudioWavCodec.isPcm]]). */
    def isGif(bytes: Array[Byte]): Boolean =
      bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F'

    private def intAttr(e: org.w3c.dom.Element, tag: String, attr: String): Int = {
      val nodes = e.getElementsByTagName(tag)
      if (nodes.getLength == 0) 0
      else {
        val v = nodes.item(0).asInstanceOf[org.w3c.dom.Element].getAttribute(attr)
        if (v.isEmpty) 0 else try v.toInt catch { case _: NumberFormatException => 0 }
      }
    }
    private def strAttr(e: org.w3c.dom.Element, tag: String, attr: String): String = {
      val nodes = e.getElementsByTagName(tag)
      if (nodes.getLength == 0) ""
      else nodes.item(0).asInstanceOf[org.w3c.dom.Element].getAttribute(attr)
    }

    /** Pooled luma features for EVERY composited frame of the clip,
      * from one container parse. None when the bytes aren't a
      * decodable multi-frame (or single-frame) GIF. */
    def decodeAll(bytes: Array[Byte], n: Int): Option[Array[Array[Float]]] =
      // isGif gate: the decode domain must coincide with the outage-
      // counter domain — javax.imageio would otherwise read e.g. PNG
      // bytes carried under kind="video" as a one-frame "clip",
      // silently widening the documented GIF-only contract
      if (!isGif(bytes)) None
      else try {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            // seekForwardOnly=false: getNumImages scans to the end,
            // then reads restart at frame 0
            r.setInput(iis, false, false)
            try {
              val cnt = r.getNumImages(true)
              if (cnt <= 0) None
              else {
                // canvas = the GIF logical screen (frame 0's size if
                // the stream descriptor is absent), background black
                val sm = Option(r.getStreamMetadata).map(
                  _.getAsTree("javax_imageio_gif_stream_1.0")
                    .asInstanceOf[org.w3c.dom.Element])
                val f0 = r.read(0)
                val w = sm.map(intAttr(_, "LogicalScreenDescriptor", "logicalScreenWidth"))
                  .filter(_ > 0).getOrElse(f0.getWidth)
                val h = sm.map(intAttr(_, "LogicalScreenDescriptor", "logicalScreenHeight"))
                  .filter(_ > 0).getOrElse(f0.getHeight)
                val canvas = new java.awt.image.BufferedImage(
                  w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
                val g = canvas.createGraphics()
                try {
                  val out = new Array[Array[Float]](cnt)
                  var i = 0
                  while (i < cnt) {
                    val frame = if (i == 0) f0 else r.read(i)
                    val md = r.getImageMetadata(i)
                      .getAsTree("javax_imageio_gif_image_1.0")
                      .asInstanceOf[org.w3c.dom.Element]
                    val x = intAttr(md, "ImageDescriptor", "imageLeftPosition")
                    val y = intAttr(md, "ImageDescriptor", "imageTopPosition")
                    val disposal =
                      strAttr(md, "GraphicControlExtension", "disposalMethod")
                    // restoreToPrevious reverts the canvas to its
                    // pre-frame state after display: snapshot the
                    // frame's rect (clamped to the canvas — descriptor
                    // offsets may overhang) before drawing over it
                    val rw = math.min(frame.getWidth, w - x)
                    val rh = math.min(frame.getHeight, h - y)
                    val prev =
                      if (disposal == "restoreToPrevious" && rw > 0 && rh > 0)
                        Some(canvas.getRGB(x, y, rw, rh, null, 0, rw))
                      else None
                    g.drawImage(frame, x, y, null)
                    out(i) = poolLuma(canvas, n)
                    disposal match {
                      case "restoreToBackgroundColor" =>
                        g.setColor(java.awt.Color.BLACK)
                        g.fillRect(x, y, frame.getWidth, frame.getHeight)
                      case "restoreToPrevious" =>
                        prev.foreach(px => canvas.setRGB(x, y, rw, rh, px, 0, rw))
                      case _ => ()
                    }
                    i += 1
                  }
                  Some(out)
                } finally g.dispose()
              }
            } finally r.dispose()
          }
        } finally try iis.close() catch { case _: java.io.IOException => () }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** One composited frame (index loops past the clip) — the
      * single-frame convenience over [[decodeAll]]. */
    def decode(bytes: Array[Byte], n: Int, frameIdx: Int): Option[Array[Float]] =
      decodeAll(bytes, n).map(fs => fs(((frameIdx % fs.length) + fs.length) % fs.length))
  }

  /** REAL audio codec for PCM WAV via the JDK's `javax.sound.sampled`
    * (zero added dependencies — the same no-ffmpeg story as
    * [[ImageIoCodec]]): decodes 16-bit signed PCM frames (mono or
    * multi-channel, either endianness — the WAV container's standard
    * encoding), averages channels to mono, and mean-pools the
    * normalized amplitude MAGNITUDE |s|/32768 over n proportional
    * windows — a deterministic loudness-envelope feature. `clipSec ≥
    * 0` restricts pooling to that one-second clip (the frame index
    * [[sampleFrames]] emits), so per-clip features differ and a long
    * file is never pooled whole per clip; None when the clip lies
    * beyond the actual audio. None also for anything `AudioSystem`
    * can't parse or non-16-bit-PCM encodings (compressed audio still
    * needs ffmpeg and stays stubbed). */
  object AudioWavCodec {
    def decode(bytes: Array[Byte], n: Int, clipSec: Int = -1): Option[Array[Float]] =
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = ais.getFormat
          if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
              fmt.getSampleSizeInBits != 16) None
          else {
            val data = ais.readAllBytes()
            val ch = fmt.getChannels
            val frames = data.length / (2 * ch)
            val rate = math.max(1, math.round(fmt.getFrameRate))
            val f0 = if (clipSec < 0) 0 else math.min(clipSec.toLong * rate, frames).toInt
            val f1 = if (clipSec < 0) frames else math.min((clipSec + 1L) * rate, frames).toInt
            if (f1 <= f0) None
            else {
              val big = fmt.isBigEndian
              val sums = new Array[Double](n)
              val cnts = new Array[Long](n)
              var f = f0
              while (f < f1) {
                var s = 0.0
                var c = 0
                while (c < ch) {
                  val i = (f * ch + c) * 2
                  val v =
                    if (big) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                    else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
                  s += math.abs(v.toDouble) / 32768.0
                  c += 1
                }
                val slot = ((f - f0).toLong * n / (f1 - f0)).toInt
                sums(slot) += s / ch; cnts(slot) += 1
                f += 1
              }
              Some(Array.tabulate(n)(i =>
                if (cnts(i) > 0) (sums(i) / cnts(i)).toFloat else 0.0f))
            }
          }
        } finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** True when the bytes parse as 16-bit signed PCM — the domain
      * [[decode]] is EXPECTED to handle. A stub fallback on such
      * bytes is a codec outage (counted); a fallback on anything else
      * (MP3/OGG/garbage) is the stub's legitimate documented domain
      * (not counted — it must not be a standing false alarm). */
    def isPcm(bytes: Array[Byte]): Boolean =
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try ais.getFormat.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          ais.getFormat.getSampleSizeInBits == 16
        finally ais.close()
      } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** STUB — deterministic stand-in for the video decoder and
    * compressed-audio formats (no ffmpeg in this container) and the
    * fallback for undecodable image/audio bytes. Replace with an
    * actual codec on a real deployment. */
  object StubCodec {
    /** Deterministic pseudo-pixels: FNV-1a rolling hash over bytes. */
    def decode(bytes: Array[Byte], n: Int): Array[Float] = {
      var h = 0x811c9dc5L
      val out = new Array[Float](n)
      var i = 0
      while (i < bytes.length) {
        h = (h ^ (bytes(i) & 0xffL)) * 0x01000193L & 0xffffffffL
        out(i % n) += ((h % 256L).toFloat / 255.0f)
        i += 1
      }
      out
    }
  }

  /** Synthesize a deterministic media table from `documents` (the
    * container has no real media files): bytes = UTF-8 of the text,
    * kind round-robins, dims derived from doc_id. Deterministic, so
    * specs can assert exact values. */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .map { case (id, text) =>
        val kind = Seq("image", "audio", "video")((id % 3).toInt)
        MediaAsset(id, kind, text.getBytes("UTF-8"),
          width = 16 + (id % 8).toInt, height = 16 + (id % 4).toInt,
          durationMs = 1000 + (id % 10).toInt * 500)
      }
  }

  /** Frame-sample: video → every `stride`-th frame index, image → 1
    * frame, audio → one clip per second. Pure metadata math — no
    * decode yet, so it's a narrow (cheap) stage. */
  def sampleFrames(assets: Dataset[MediaAsset], stride: Int): Dataset[(MediaAsset, Int)] = {
    require(stride > 0, s"stride must be positive, got $stride")
    import assets.sparkSession.implicits._
    assets.flatMap { a =>
      val frames = a.kind match {
        case "image" => Seq(0)
        case "audio" => 0 until math.max(1, a.durationMs / 1000)
        case _       => 0 until math.max(1, a.durationMs / 40) by stride
      }
      frames.map(f => (a, f))
    }
  }

  /** Resize: resample a feature vector to `outDim` by mean-pooling
    * proportional windows [i·n/outDim, (i+1)·n/outDim) — every input
    * element contributes to exactly one output (no dropped tail), and
    * upsampling (outDim > n) replicates the nearest element instead
    * of zero-filling. The stub stand-in for image resize; the stage
    * shape is what matters: a narrow map over decoded features,
    * never a shuffle. */
  def resize(feats: Dataset[MediaFeature], outDim: Int): Dataset[MediaFeature] = {
    require(outDim > 0, s"outDim must be positive, got $outDim")
    import feats.sparkSession.implicits._
    feats.map { f =>
      val in = f.feature
      val n = in.length
      val out = new Array[Float](outDim)
      var i = 0
      while (i < outDim) {
        val start = (i.toLong * n / outDim).toInt
        val end = ((i + 1).toLong * n / outDim).toInt
        if (end > start) {
          var s = 0.0f; var j = start
          while (j < end) { s += in(j); j += 1 }
          out(i) = s / (end - start)
        } else if (n > 0) { // upsample: nearest element
          out(i) = in(math.min(start, n - 1))
        }
        i += 1
      }
      f.copy(featDim = outDim, feature = out)
    }
  }

  /** Named counter for records whose bytes were in a REAL codec's
    * expected domain (any image bytes; PCM audio) but failed decode
    * and fell back to the stub. The round-5 regression shipped
    * because a total codec outage produced plausible stub output —
    * fallback must be OBSERVABLE, not silent. Expected stubbing
    * (video, compressed audio) does NOT tick, so nonzero always means
    * outage — alert on it (the MultimodalSpec e2e paths assert zero
    * on real PNG/WAV). Task retries can overcount (accumulator
    * semantics) — fine for an outage signal, never read it as an
    * exact tally. */
  def codecFallbackCounter(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    spark.sparkContext.longAccumulator("graft.multimodal.codecFallbacks")

  /** Decode + feature-extract, one codec per partition (the expensive
    * stage; batched like an Arrow UDF). featDim models "resize to a
    * fixed feature grid". Images go through the REAL JDK image codec
    * ([[ImageIoCodec]] — PNG/JPEG), audio through the REAL JDK WAV
    * codec ([[AudioWavCodec]] — 16-bit PCM), and video frames through
    * the REAL JDK animated-GIF reader ([[GifVideoCodec]]);
    * compressed media and undecodable bytes fall back to the
    * deterministic stub. A fallback on bytes a real codec owns ticks
    * `fallbacks` so a codec outage surfaces instead of silently
    * degrading every feature to the stub. */
  def extractFeatures(sampled: Dataset[(MediaAsset, Int)], featDim: Int,
                      fallbacks: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[MediaFeature] = {
    import sampled.sparkSession.implicits._
    sampled.mapPartitions { it =>
      // one decoder instance per partition — mirrors opening one
      // libjpeg/ffmpeg context per task rather than per record.
      // sampleFrames emits an asset's frames consecutively, so a
      // one-asset memo turns the video path into ONE container parse
      // per clip (decodeAll) instead of one per sampled frame.
      // memo validity is its own flag: doc_id spans the full Long
      // range, so no sentinel id value can mean "empty" without
      // shadowing a real asset
      var gifId = 0L
      var gifSeen = false
      var gifFrames: Option[Array[Array[Float]]] = None
      def videoFrames(a: MediaAsset): Option[Array[Array[Float]]] = {
        if (!gifSeen || a.doc_id != gifId) {
          gifId = a.doc_id
          gifSeen = true
          gifFrames = GifVideoCodec.decodeAll(a.bytes, featDim)
        }
        gifFrames
      }
      it.map { case (a, frame) =>
        val real = a.kind match {
          case "image" => ImageIoCodec.decode(a.bytes, featDim)
          case "audio" => AudioWavCodec.decode(a.bytes, featDim, clipSec = frame)
          case "video" =>
            videoFrames(a).map(fs => fs(((frame % fs.length) + fs.length) % fs.length))
          case _       => None
        }
        // outage signal only: image bytes are always the real codec's
        // domain; audio bytes only when they parse as PCM and video
        // bytes only when they are a GIF container (compressed
        // audio/video legitimately stub — a standing tick would be
        // noise)
        if (real.isEmpty &&
            (a.kind == "image" ||
              (a.kind == "audio" && AudioWavCodec.isPcm(a.bytes)) ||
              (a.kind == "video" && GifVideoCodec.isGif(a.bytes))))
          fallbacks.foreach(_.add(1L))
        val feat = real
          .getOrElse(StubCodec.decode(a.bytes ++ BigInt(frame).toByteArray, featDim))
        MediaFeature(a.doc_id, a.kind, frame, featDim, feat)
      }
    }
  }

  /** 64-bit hash of 64 pooled signal values: bit i set iff value i is
    * above their mean. None for a flat signal (zero contrast): every
    * flat input would hash to 0 whatever its level. */
  private def aboveMeanHash(f: Array[Float]): Option[Long] = {
    var mn = Float.MaxValue; var mx = Float.MinValue; var s = 0.0
    var i = 0
    while (i < 64) { s += f(i); if (f(i) < mn) mn = f(i); if (f(i) > mx) mx = f(i); i += 1 }
    if (mx - mn < 1e-6f) None
    else {
      val mean = s / 64
      var h = 0L
      i = 0
      while (i < 64) { if (f(i) > mean) h |= 1L << i; i += 1 }
      Some(h)
    }
  }

  /** 64-bit average-hash (aHash) of an image: decode to 64 block-mean
    * luminances via [[ImageIoCodec]], bit i set iff block i is
    * brighter than the image mean — the classic perceptual
    * fingerprint (stable under re-encode and mild edits; Hamming
    * distance counts visual difference). None for undecodable bytes
    * AND for flat (zero-contrast) images: every flat image would hash
    * to 0 regardless of its color, so an all-black and an all-white
    * frame would otherwise pair as hamming-0 "duplicates" — no
    * structure means nothing to match. */
  def imageAHash(bytes: Array[Byte]): Option[Long] =
    ImageIoCodec.decode(bytes, 64).flatMap(aboveMeanHash)

  /** 64-bit perceptual AUDIO fingerprint: the clip's loudness
    * envelope pooled to 64 time slots via the real PCM codec
    * ([[AudioWavCodec]]), bit i set iff slot i is louder than the
    * clip mean — the energy-envelope hash (stable under re-encode,
    * gain changes that preserve shape, and trailing-silence trims
    * that keep the envelope; Hamming distance counts rhythmic
    * difference). Same flat-signal guard as [[imageAHash]]: silence
    * or constant tone has no envelope structure, so every flat clip
    * would collide at hash 0 — None instead. */
  def audioAHash(bytes: Array[Byte]): Option[Long] =
    AudioWavCodec.decode(bytes, 64).flatMap(aboveMeanHash)

  /** Audio near-dup pairs over PCM assets — the audio twin of
    * [[visualNearDup]] and the missing piece of the per-modality
    * dedup family (text MinHash/SimHash, image aHash, audio
    * envelope): [[audioAHash]] per clip, then the same blocked
    * Hamming join. Undecodable and flat clips are skipped (nothing
    * rhythmic to match). */
  def audioNearDup(assets: Dataset[MediaAsset], maxHamming: Int = 3,
                   maxBlockDf: Int = 1000): DataFrame =
    nearDup(assets, "audio", audioAHash, maxHamming, maxBlockDf)

  /** Visual near-dup pairs over image assets — the multimodal
    * counterpart of SimHash text dedup: [[imageAHash]] per image, then
    * the exact-recall pigeonhole blocking (maxHamming ≤ 3 enforced
    * there). aHash blocks are far less
    * uniform than md5 band keys (dark/blown-out regions repeat across
    * a photo corpus), so the block-frequency cap is ON by default —
    * the quadratic-bucket guard, same as overlapPairs' df bound.
    * Undecodable and flat images are skipped (nothing visual to
    * match). */
  def visualNearDup(assets: Dataset[MediaAsset], maxHamming: Int = 3,
                    maxBlockDf: Int = 1000): DataFrame =
    nearDup(assets, "image", imageAHash, maxHamming, maxBlockDf)

  /** Near-dup pairs of one media kind: `hash` per asset in the
    * per-partition decode stage (bytes never shuffle; only
    * (doc_id, hash) longs do; unhashable assets drop out), then
    * `DedupOps.blockedHammingPairs` over 4×16-bit blocks. */
  private def nearDup(assets: Dataset[MediaAsset], kind: String,
      hash: Array[Byte] => Option[Long], maxHamming: Int,
      maxBlockDf: Int): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    val hashed = assets.filter(_.kind == kind)
      .mapPartitions(it => it.flatMap(a => hash(a.bytes).map(h => (a.doc_id, h))))
      .toDF("doc_id", "ahash")
    graft.operators.DedupOps.blockedHammingPairs(
      hashed, "ahash", blocks = 4, blockBits = 16, maxHamming, maxBlockDf)
  }

  /** End-to-end: media table → sampled frames → features → per-doc
    * mean feature norm (small aggregate; bytes never shuffle). The
    * per-frame norm² runs in the typed map (same float-accumulation
    * order as the old `aggregate` HOF — bit-identical, but no
    * interpreted lambda per element). */
  def pipeline(spark: SparkSession, sfDir: String, stride: Int = 5,
               featDim: Int = 8,
               fallbacks: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    pipelineFrom(mediaFromDocuments(spark, sfDir), stride, featDim, fallbacks)

  /** [[pipeline]] over an explicit media table — lets callers (and the
    * zero-fallback e2e spec) feed real decodable assets through the
    * exact production stages. */
  def pipelineFrom(assets: Dataset[MediaAsset], stride: Int = 5, featDim: Int = 8,
                   fallbacks: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = assets.sparkSession
    val feats = extractFeatures(sampleFrames(assets, stride), featDim, fallbacks)
    import spark.implicits._
    feats
      .map { f =>
        var n2 = 0.0f
        var i = 0
        while (i < f.feature.length) { n2 += f.feature(i) * f.feature(i); i += 1 }
        (f.doc_id, f.kind, f.frameIdx, n2)
      }
      .toDF("doc_id", "kind", "frameIdx", "norm2")
      .groupBy($"doc_id", $"kind")
      .agg(count(lit(1)).as("n_frames"), sum($"norm2").as("sum_norm2"))
      .orderBy($"doc_id")
  }
}
