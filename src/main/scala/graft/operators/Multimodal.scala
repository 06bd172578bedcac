package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling for the training-data pipeline: image/audio/video
  * payloads as opaque `binary` columns with typed metadata, processed by
  * batched `mapPartitions` (the Scala analog of `mapInPandas`: one partition =
  * one batch through the decoder, so a real decoder amortizes model/codec init
  * per partition instead of per row).
  *
  * Decode status by modality:
  *  - **image** — REAL ([[decodeMedia]]): JDK `javax.imageio` (PNG/JPEG/BMP/
  *    GIF) → width/height, mean luminance, and an average-pooled grayscale
  *    grid as the feature vector (pooling IS the resize step: content-true,
  *    deterministic, no external libs). Gated by MultimodalAggSpec on
  *    images synthesized in-test.
  *  - **audio** — REAL ([[decodeMedia]]): JDK `javax.sound.sampled`
  *    (WAV/AIFF PCM) → sample rate, duration, overall RMS, and a temporal
  *    RMS-energy profile as the feature vector.
  *  - **video** — REAL for raw containers ([[decodeY4m]]): YUV4MPEG2 (y4m) is
  *    a plain-text header plus uncompressed planar YUV frames, parseable in
  *    pure JVM with no codec — width/height/fps/frame count plus a per-frame
  *    mean-luminance temporal profile (the video mirror of the audio RMS
  *    profile). Compressed codecs (H.264/VP9/…) have no JDK decoder and no
  *    container library here: those payloads fail the y4m magic check and
  *    quarantine as `decode_ok=false`, documented-unsupported.
  */
object Multimodal {

  /** Unified decoded-media schema: per-modality metadata columns are null for
    * the other modalities; `feature` is the modality's embedding-ready vector. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("decode_ok", BooleanType, nullable = false),
    StructField("width", IntegerType),          // image
    StructField("height", IntegerType),         // image
    StructField("sample_rate", DoubleType),     // audio
    StructField("duration_s", DoubleType),      // audio
    StructField("feature", ArrayType(DoubleType))))

  /** REAL decoder for image + audio payloads (JDK codecs, no external libs),
    * batched per partition. Images: pixels → mean-pooled grayscale `gridH×gridW`
    * feature (the resize step). Audio: PCM samples → `bins`-slot temporal RMS
    * energy profile. Undecodable/foreign payloads → `decode_ok=false` with
    * metadata only — a bad byte string must quarantine, not kill the job. */
  def decodeMedia(media: DataFrame, gridH: Int = 2, gridW: Int = 4,
                  bins: Int = 8): DataFrame = {
    val spark = media.sparkSession
    val out = media.select("media_id", "payload", "media_type").rdd.mapPartitions { rows =>
      // per-partition batch: codec lookup tables initialize once per JVM; a
      // model-based featurizer would init HERE (once per partition, not per row)
      rows.map { r =>
        val mediaId = r.getLong(0)
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val mediaType = if (r.isNullAt(2)) null else r.getString(2)
        if (payload == null) Row(mediaId, mediaType, 0L, false, null, null, null, null, null)
        else {
          val n = payload.length.toLong
          mediaType match {
            case "image" =>
              try {
                val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
                if (img == null) Row(mediaId, mediaType, n, false, null, null, null, null, null)
                else {
                  val (w, h) = (img.getWidth, img.getHeight)
                  // average-pool luminance into gridH×gridW cells (resize)
                  val sums = new Array[Double](gridH * gridW)
                  val counts = new Array[Long](gridH * gridW)
                  var y = 0
                  while (y < h) {
                    val gy = math.min(y * gridH / h, gridH - 1)
                    var x = 0
                    while (x < w) {
                      val gx = math.min(x * gridW / w, gridW - 1)
                      val rgb = img.getRGB(x, y)
                      val luma = (0.299 * ((rgb >> 16) & 0xff) +
                        0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)) / 255.0
                      val c = gy * gridW + gx
                      sums(c) += luma; counts(c) += 1
                      x += 1
                    }
                    y += 1
                  }
                  val feature = Array.tabulate(gridH * gridW)(c =>
                    if (counts(c) == 0) 0.0 else sums(c) / counts(c))
                  Row(mediaId, mediaType, n, true, w, h, null, null, feature.toSeq)
                }
              } catch {
                case _: Exception =>
                  Row(mediaId, mediaType, n, false, null, null, null, null, null)
              }
            case "audio" =>
              decodePcm(payload) match {
                case Some((samples, rate)) =>
                  val nFrames = samples.length
                  val rmsBins = Array.tabulate(bins) { b =>
                    val from = b * nFrames / bins
                    val until = math.max((b + 1) * nFrames / bins, from + 1)
                    var s = 0.0
                    var j = from
                    while (j < math.min(until, nFrames)) { s += samples(j) * samples(j); j += 1 }
                    math.sqrt(s / math.max(math.min(until, nFrames) - from, 1))
                  }
                  val dur = nFrames.toDouble / rate
                  Row(mediaId, mediaType, n, true, null, null,
                    rate.toDouble, dur, rmsBins.toSeq)
                case None =>
                  Row(mediaId, mediaType, n, false, null, null, null, null, null)
              }
            case "video" =>
              decodeY4m(payload, bins) match {
                case Some((w, h, fps, nFrames, profile)) =>
                  // sample_rate carries fps, duration_s = frames/fps — the
                  // temporal metadata pair, same slots the audio branch uses
                  Row(mediaId, mediaType, n, true, w, h, fps, nFrames / fps,
                    profile.toSeq)
                case None => // compressed codec or malformed stream: quarantine
                  Row(mediaId, mediaType, n, false, null, null, null, null, null)
              }
            case _ => // unknown modality — metadata only
              Row(mediaId, mediaType, n, false, null, null, null, null, null)
          }
        }
      }
    }
    spark.createDataFrame(out, decodedSchema)
  }

  /** WAV/AIFF PCM payload → (first-channel samples in [-1, 1], sample rate).
    * Only PCM is decoded (ULAW/ALAW would read as garbage with decode_ok=true
    * — callers quarantine them via None), 16-bit either endianness and 8-bit
    * unsigned per the WAV spec. Factored out of [[decodeMedia]] so the
    * fingerprint path ([[audioFingerprint]]) shares one decode. */
  private[operators] def decodePcm(payload: Array[Byte]): Option[(Array[Double], Float)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(payload)))
      val fmt = in.getFormat
      val enc = fmt.getEncoding
      if (enc != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          enc != javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
        throw new javax.sound.sampled.UnsupportedAudioFileException(enc.toString)
      val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      val bytes = in.readAllBytes()
      val bytesPerSample = math.max(fmt.getSampleSizeInBits / 8, 1)
      val frameSize = math.max(fmt.getFrameSize, bytesPerSample)
      val nFrames = bytes.length / frameSize
      val samples = new Array[Double](nFrames)
      var i = 0
      while (i < nFrames) {
        val off = i * frameSize
        val v: Int =
          if (bytesPerSample == 2) {
            val raw =
              if (fmt.isBigEndian) ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)
              else ((bytes(off + 1) & 0xff) << 8) | (bytes(off) & 0xff)
            if (unsigned) raw - 32768 else raw.toShort.toInt
          } else {
            // 8-bit WAV is unsigned per the format spec
            if (unsigned) (bytes(off) & 0xff) - 128 else bytes(off).toInt
          }
        samples(i) = v.toDouble / (if (bytesPerSample == 2) 32768.0 else 128.0)
        i += 1
      }
      Some((samples, fmt.getSampleRate))
    } catch { case _: Exception => None }

  /** Structural pure-JVM YUV4MPEG2 (y4m) scan shared by [[decodeY4m]]
    * (temporal profile) and [[decodeY4mFrames]] (per-frame grids):
    * `YUV4MPEG2 W<w> H<h> F<n>:<d> [C<cs>]\n` header fields + the byte
    * offset of every frame's Y plane (each frame is a `FRAME…\n` line then
    * raw planar YUV; chroma planes are SKIPPED by size — only luminance is
    * ever read, the cheap sampling a 100 TB feature sweep wants). None on
    * any malformation — a compressed codec payload, a truncated frame, an
    * unknown colorspace — so callers quarantine instead of emitting
    * garbage features. */
  private def y4mScan(payload: Array[Byte]): Option[(Int, Int, Double, Array[Int])] = {
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < payload.length && payload(i) != '\n'.toByte) i += 1
      if (i < payload.length) i else -1
    }
    val nl = lineEnd(0)
    if (nl < 0) return None
    val header = new String(payload, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
    val toks = header.split(' ')
    if (toks.head != "YUV4MPEG2") return None
    var w = -1; var h = -1; var fpsN = -1; var fpsD = 1; var cs = "420" // C420 is the spec default
    try toks.tail.filter(_.nonEmpty).foreach { t =>
      t.charAt(0) match {
        case 'W' => w = t.substring(1).toInt
        case 'H' => h = t.substring(1).toInt
        case 'F' => val p = t.substring(1).split(':'); fpsN = p(0).toInt; fpsD = p(1).toInt
        case 'C' => cs = t.substring(1)
        case _   => () // I (interlace), A (aspect), X (extensions): irrelevant here
      }
    } catch { case _: RuntimeException => return None }
    if (w <= 0 || h <= 0 || fpsN <= 0 || fpsD <= 0) return None
    val ySize = w * h
    val chromaSize = // subsampled plane sizes round UP per the spec
      if (cs.startsWith("420")) 2 * ((w + 1) / 2) * ((h + 1) / 2) // incl. jpeg/paldv/mpeg2 tags
      else if (cs.startsWith("422")) 2 * ((w + 1) / 2) * h
      else if (cs.startsWith("444")) 2 * ySize
      else if (cs == "mono") 0
      else return None
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    var pos = nl + 1
    while (pos < payload.length) {
      val fnl = lineEnd(pos)
      if (fnl < 0) return None
      val fline = new String(payload, pos, fnl - pos, java.nio.charset.StandardCharsets.US_ASCII)
      if (!fline.startsWith("FRAME")) return None
      val dataStart = fnl + 1
      if (dataStart + ySize + chromaSize > payload.length) return None // truncated frame
      offsets += dataStart
      pos = dataStart + ySize + chromaSize
    }
    if (offsets.isEmpty) return None // a frameless stream carries no signal — quarantine
    Some((w, h, fpsN.toDouble / fpsD, offsets.toArray))
  }

  /** Temporal luminance profile over [[y4mScan]]: (width, height, fps,
    * n_frames, per-frame mean luma pooled into `bins` temporal slots) —
    * the video branch of [[decodeMedia]]'s feature column. Quarantine
    * contract inherited from the scan: None ⇒ caller emits decode_ok=false,
    * never garbage features. */
  private[operators] def decodeY4m(payload: Array[Byte],
                                   bins: Int): Option[(Int, Int, Double, Int, Array[Double])] = {
    val (w, h, fps, offsets) = y4mScan(payload) match {
      case Some(v) => v
      case None => return None
    }
    val ySize = w * h
    val lumas = offsets.map { dataStart =>
      var s = 0.0
      var i = dataStart
      val end = dataStart + ySize
      while (i < end) { s += (payload(i) & 0xff); i += 1 }
      s / ySize / 255.0
    }
    val nFrames = lumas.length
    // pool per-frame lumas into `bins` temporal slots — same binning as the
    // audio RMS profile, so downstream feature consumers see one shape
    val profile = Array.tabulate(bins) { b =>
      val from = b * nFrames / bins
      val until = math.max((b + 1) * nFrames / bins, from + 1)
      var s = 0.0
      var j = from
      val stop = math.min(until, nFrames)
      while (j < stop) { s += lumas(j); j += 1 }
      s / math.max(stop - from, 1)
    }
    Some((w, h, fps, nFrames, profile))
  }

  /** Per-frame pooled-luminance grids (the video analog of the image
    * branch's gridH×gridW average pool) — the per-frame signal
    * [[videoSceneCuts]] segments on. Shares [[y4mScan]]'s one structural
    * pass; cost is one read of each Y plane, no chroma touched. */
  private[operators] def decodeY4mFrames(payload: Array[Byte], gridH: Int,
                                         gridW: Int): Option[(Int, Int, Double, Array[Array[Double]])] = {
    val (w, h, fps, offsets) = y4mScan(payload) match {
      case Some(v) => v
      case None => return None
    }
    val grids = offsets.map { dataStart =>
      val sums = new Array[Double](gridH * gridW)
      val counts = new Array[Long](gridH * gridW)
      var y = 0
      while (y < h) {
        val gy = math.min(y * gridH / h, gridH - 1)
        val rowBase = dataStart + y * w
        var x = 0
        while (x < w) {
          val gx = math.min(x * gridW / w, gridW - 1)
          val c = gy * gridW + gx
          sums(c) += (payload(rowBase + x) & 0xff) / 255.0
          counts(c) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(gridH * gridW)(c =>
        if (counts(c) == 0) 0.0 else sums(c) / counts(c))
    }
    Some((w, h, fps, grids))
  }

  private val sceneSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("seg_idx", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("start_frame", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("n_frames", org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("start_s", org.apache.spark.sql.types.DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("dur_s", org.apache.spark.sql.types.DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("mean_luma", org.apache.spark.sql.types.DoubleType, nullable = false)))

  /** VIDEO SCENE-CUT SEGMENTATION — the temporal segmentation op that turns
    * raw video into trainable clips (frame-sampling / captioning pipelines
    * operate per scene, not per file): a cut lands between consecutive
    * frames whose pooled-luminance grids ([[decodeY4mFrames]]) differ by
    * more than `threshold` mean absolute cell delta — grid-wise, so a cut
    * needs STRUCTURAL change (a lighting flicker moves every cell a
    * little; a scene change moves the layout a lot). Emits one row per
    * segment with frame and second bounds plus its mean luminance.
    *
    * Scale shape: pure flatMap over media rows — each video decodes ONCE,
    * entirely inside its task (same per-partition discipline as
    * [[decodeMedia]]); no shuffle, output proportional to detected scenes.
    * Undecodable/non-video rows emit nothing — the modality audit (q77)
    * owns quarantine accounting, segmentation stays pure. */
  def videoSceneCuts(media: DataFrame, gridH: Int = 2, gridW: Int = 4,
                     threshold: Double = 0.08): DataFrame = {
    val spark = media.sparkSession
    val out = media.select("media_id", "payload", "media_type").rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(1) || r.isNullAt(2) || r.getString(2) != "video") Iterator.empty
        else decodeY4mFrames(r.getAs[Array[Byte]](1), gridH, gridW) match {
          case None => Iterator.empty
          case Some((_, _, fps, grids)) =>
            val cells = gridH * gridW
            val cutAt = (1 until grids.length).filter { i =>
              var d = 0.0
              var c = 0
              while (c < cells) { d += math.abs(grids(i)(c) - grids(i - 1)(c)); c += 1 }
              d / cells > threshold
            }
            val bounds = (0 +: cutAt) :+ grids.length
            bounds.sliding(2).zipWithIndex.map { case (Seq(from, until), seg) =>
              var s = 0.0
              var i = from
              while (i < until) { s += grids(i).sum / cells; i += 1 }
              Row(r.getLong(0), seg, from, until - from,
                from / fps, (until - from) / fps, s / (until - from))
            }
        }
      }
    }
    spark.createDataFrame(out, sceneSchema)
  }

  /** Image perceptual-hash near-dup detection — the IMAGE-modality twin of
    * [[graft.operators.Dedup.simhashPairs]] (text) and
    * [[graft.operators.Similarity.cosineNearDup]] (vectors), closing the
    * dedup loop across all three modalities: aHash over [[decodeMedia]]'s
    * pooled-luminance grid (bit b set iff cell b is brighter than the grid
    * mean — robust to uniform brightness/contrast shifts, the common
    * re-encode artifact), candidates blocked on `nSeg` hash segments
    * (pigeonhole: full recall for hamming ≤ nSeg−1), verified hamming ≤
    * `maxHamming` emitted. Takes the decoded frame so the expensive decode
    * runs once upstream; at scale use an 8×8 grid (64-bit hash) —
    * the 2×4 default grid is the test-scale setting. No SQL oracle (DuckDB
    * cannot decode PNG) — spec-gated end-to-end on synthesized images, the
    * same evidence class as the rest of the multimodal suite. */
  def imageNearDup(decoded: DataFrame, nBits: Int = 8, nSeg: Int = 4,
                   maxHamming: Int = 1): DataFrame = {
    val bitsU = udf((f: Seq[Double]) => {
      val mean = f.sum / f.length
      f.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
        if (v > mean) acc | (1L << i) else acc
      }
    })
    val fp = decoded
      .filter(col("decode_ok") && col("media_type") === "image" && col("feature").isNotNull)
      .select(col("media_id"), bitsU(col("feature")).as("fp"))
    fingerprintPairs(fp, nBits, nSeg, maxHamming)
  }

  /** Segment-blocked hamming pairs over a (media_id, fp) fingerprint frame —
    * the candidate/verify skeleton [[imageNearDup]] and [[audioNearDup]]
    * share (one definition, the lshCandidatePairs precedent): block on
    * `nSeg` hash segments (pigeonhole: full recall for hamming ≤ nSeg−1),
    * verify exact hamming ≤ `maxHamming`. Never all-pairs: the join meets
    * only within-segment-value buckets. */
  /** (media_id, fp) schema every modality fingerprint emits — one
    * definition so the frame [[fingerprintPairs]] consumes cannot drift
    * between the audio and video emitters. */
  private val fpSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("media_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("fp",
      org.apache.spark.sql.types.LongType, nullable = false)))

  private[operators] def fingerprintPairs(fp: DataFrame, nBits: Int, nSeg: Int,
                                          maxHamming: Int): DataFrame = {
    // the pigeonhole recall guarantee (hamming ≤ nSeg−1 ⇒ some segment
    // matches exactly) needs every bit inside a segment and enough segments
    // to absorb maxHamming flips — fail loudly on a misconfiguration that
    // would silently lose recall
    require(nBits % nSeg == 0,
      s"nSeg=$nSeg must divide nBits=$nBits or the top bits go unblocked")
    require(nSeg >= maxHamming + 1,
      s"nSeg=$nSeg must exceed maxHamming=$maxHamming for full blocking recall")
    val segBits = nBits / nSeg
    val mask = (1L << segBits) - 1
    // segment i = bits [i*segBits, (i+1)*segBits): shift right then mask
    val seg = fp
      .select(col("media_id"), col("fp"),
        posexplode(array((0 until nSeg).map(i =>
          shiftrightunsigned(col("fp"), i * segBits).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "seg").withColumnRenamed("col", "seg_val")
    val cand = seg.as("a")
      .join(seg.as("b"),
        col("a.seg") === col("b.seg") && col("a.seg_val") === col("b.seg_val") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("ma"), col("b.media_id").as("mb"),
        col("a.fp").as("fpa"), col("b.fp").as("fpb"))
      .dropDuplicates("ma", "mb")
    cand
      .withColumn("hamming", bit_count(col("fpa").bitwiseXOR(col("fpb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("ma"), col("mb"), col("hamming"))
  }

  /** Audio spectral fingerprint — the Haitsma–Kalker band-energy shape ("A
    * Highly Robust Audio Fingerprinting System", ISMIR 2002) in miniature:
    * the PCM stream is cut into `tBins` temporal slots, each slot's energy
    * measured in `fBands` geometrically-spaced bands (Goertzel at center
    * frequencies f0·2^b — the constant-Q ladder, pure JVM), and bit
    * (slot·fBands + band) is set iff that band's power is above the slot's
    * mean band power. Comparing WITHIN the slot makes the fingerprint
    * invariant to uniform amplitude scaling (gain/normalization — the common
    * re-encode artifact, every power scales by the same factor), while a
    * different tone moves energy across bands and flips bits. tBins=8 ×
    * fBands=4 = 32 bits, matching the Long fingerprint the blocking
    * skeleton expects. Undecodable payloads are dropped (the quarantine
    * discipline of [[decodeMedia]]). */
  def audioFingerprint(media: DataFrame, tBins: Int = 8, fBands: Int = 4,
                       f0: Double = 250.0): DataFrame = {
    require(tBins * fBands <= 64, s"fingerprint needs tBins*fBands <= 64 bits")
    val spark = media.sparkSession
    val out = media.select("media_id", "payload", "media_type").rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val mediaType = if (r.isNullAt(2)) null else r.getString(2)
        if (payload == null || mediaType != "audio") None
        else decodePcm(payload).map { case (samples, rate) =>
          val n = samples.length
          var fpBits = 0L
          var t = 0
          while (t < tBins) {
            val from = t * n / tBins
            val until = math.max((t + 1) * n / tBins, from + 1)
            val stop = math.min(until, n)
            val powers = new Array[Double](fBands)
            var b = 0
            while (b < fBands) {
              // Goertzel power at f0·2^b over the slot
              val w = 2.0 * math.Pi * (f0 * (1 << b)) / rate
              val cw = 2.0 * math.cos(w)
              var s1 = 0.0; var s2 = 0.0
              var j = from
              while (j < stop) {
                val s0 = samples(j) + cw * s1 - s2
                s2 = s1; s1 = s0
                j += 1
              }
              powers(b) = s1 * s1 + s2 * s2 - cw * s1 * s2
              b += 1
            }
            val mean = powers.sum / fBands
            b = 0
            while (b < fBands) {
              if (powers(b) > mean) fpBits |= 1L << (t * fBands + b)
              b += 1
            }
            t += 1
          }
          Row(r.getLong(0), fpBits)
        }
      }
    }
    spark.createDataFrame(out, fpSchema)
  }

  /** Audio perceptual near-dup — the AUDIO-modality twin of [[imageNearDup]]
    * (image) / [[graft.operators.Dedup.simhashPairs]] (text), completing the
    * dedup loop across modalities: [[audioFingerprint]]'s spectral bits +
    * the shared segment-blocked hamming skeleton. Catches gain-shifted
    * re-encodes of the same material (fingerprint amplitude-invariant);
    * rejects different tonal content (band-energy bits flip). Spec-gated on
    * synthesized WAV twins — no SQL oracle by necessity (DuckDB cannot
    * decode WAV; the q30/imageNearDup evidence class). */
  def audioNearDup(media: DataFrame, tBins: Int = 8, fBands: Int = 4,
                   nSeg: Int = 4, maxHamming: Int = 3): DataFrame =
    fingerprintPairs(audioFingerprint(media, tBins, fBands),
      tBins * fBands, nSeg, maxHamming)

  /** Video spatio-temporal fingerprint — [[audioFingerprint]]'s slot
    * structure with [[imageNearDup]]'s spatial bits: the clip is cut into
    * `tBins` temporal slots, each slot's frames pool into one gridH×gridW
    * luminance grid ([[decodeY4mFrames]], one structural pass), and bit
    * (slot·cells + cell) is set iff that cell outshines the SLOT's mean —
    * so a uniform brightness/contrast re-encode shifts every cell and the
    * mean together (bits invariant), while re-composed content moves the
    * layout and flips bits. tBins=4 × 8 cells = 32 bits, the Long the
    * blocking skeleton expects. Undecodable/non-video rows drop. */
  def videoFingerprint(media: DataFrame, tBins: Int = 4, gridH: Int = 2,
                       gridW: Int = 4): DataFrame = {
    val cells = gridH * gridW
    require(tBins * cells <= 64, "fingerprint needs tBins*cells <= 64 bits")
    val spark = media.sparkSession
    val out = media.select("media_id", "payload", "media_type").rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val mediaType = if (r.isNullAt(2)) null else r.getString(2)
        if (payload == null || mediaType != "video") None
        else decodeY4mFrames(payload, gridH, gridW).map { case (_, _, _, grids) =>
          val nF = grids.length
          var fp = 0L
          var t = 0
          while (t < tBins) {
            val from = t * nF / tBins
            val stop = math.min(math.max((t + 1) * nF / tBins, from + 1), nF)
            val slot = new Array[Double](cells)
            var i = from
            while (i < stop) {
              var c = 0
              while (c < cells) { slot(c) += grids(i)(c); c += 1 }
              i += 1
            }
            val mean = slot.sum / cells // common frame-count factor cancels
            var c = 0
            while (c < cells) {
              if (slot(c) > mean) fp |= 1L << (t * cells + c)
              c += 1
            }
            t += 1
          }
          Row(r.getLong(0), fp)
        }
      }
    }
    spark.createDataFrame(out, fpSchema)
  }

  /** Video perceptual near-dup — completes the per-modality dedup matrix
    * (text simhash / image aHash / audio spectral / video spatio-temporal):
    * [[videoFingerprint]] bits + the shared segment-blocked hamming
    * skeleton. Catches brightness-shifted re-encodes of the same cut;
    * rejects different compositions and reordered scenes (slot grids
    * change). Spec-gated on synthesized Y4M twins — no SQL oracle by
    * necessity (the imageNearDup/audioNearDup evidence class). */
  def videoNearDup(media: DataFrame, tBins: Int = 4, gridH: Int = 2,
                   gridW: Int = 4, nSeg: Int = 4, maxHamming: Int = 3): DataFrame =
    fingerprintPairs(videoFingerprint(media, tBins, gridH, gridW),
      tBins * gridH * gridW, nSeg, maxHamming)

  /** Deterministic 24-bit BMP synthesizer — the IMAGE leg of the q179
    * recipe trick: an 8×4 image whose 2×2-pixel cells (exactly
    * [[decodeMedia]]'s default 2×4 pooling grid) are each uniformly black
    * or white by the integer recipe
    * `(id·31 + (id div 5)·3 + cell·13) mod 5 < 2` (the `id div 5` term
    * mixes a second digit of the id: 31 ≡ 1 mod 5, so without it every
    * id ≡ id' (mod 5) would emit the SAME payload and the gate would see
    * only five distinct images). White
    * luma is EXACTLY 1.0 in IEEE doubles ((0.299+0.587+0.114)·255/255
    * rounds to 255.0/255 = 1.0) and black exactly 0.0, and a uniform cell's
    * mean is its value regardless of summation order — so every pooled
    * feature decodes to exactly 0.0 or 1.0 and DuckDB replays the whole
    * decode numerically from the recipe while Spark walks the REAL BMP
    * container bytes through javax.imageio. n_bytes = 54 + 4·24 = 150. */
  private[operators] def synthBmp(id: Long): Array[Byte] = {
    val (w, h) = (8, 4)
    val stride = w * 3 // 24 bytes, already 4-aligned: no row padding
    val out = new Array[Byte](54 + stride * h)
    def p32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    p32(2, out.length); p32(10, 54)         // file size, pixel-data offset
    p32(14, 40); p32(18, w); p32(22, h)     // info header, dims (h>0: bottom-up)
    out(26) = 1; out(28) = 24               // planes, bpp
    p32(34, stride * h)                     // image size
    var fileRow = 0
    while (fileRow < h) {
      val y = h - 1 - fileRow // bottom-up row order
      var x = 0
      while (x < w) {
        val cell = (y / 2) * 4 + (x / 2)
        val v: Byte =
          if ((id * 31 + (id / 5) * 3 + cell.toLong * 13) % 5 < 2) 255.toByte
          else 0
        val off = 54 + fileRow * stride + x * 3
        out(off) = v; out(off + 1) = v; out(off + 2) = v // B, G, R
        x += 1
      }
      fileRow += 1
    }
    out
  }

  /** Deterministic PCM-WAV synthesizer — the AUDIO leg of the recipe trick:
    * mono 16-bit little-endian at 8000 Hz, 64 + 16·(id mod 5) frames
    * (always divisible by [[decodeMedia]]'s 8 RMS bins), sample j =
    * ((id·31 + (id div 5)·3 + j·7) mod 5 − 2) · 8192 (the `id div 5` term
    * mixes a second id digit, as in [[synthBmp]]) — so every decoded amplitude is an
    * exact dyadic (±0.5, ±0.25, 0), every squared term an exact multiple
    * of 1/16, every bin's energy sum EXACT in any summation order, and the
    * final sqrt(sum/k) one identically-rounded IEEE op in both engines.
    * Spark decodes the real RIFF/WAVE container through javax.sound;
    * DuckDB replays the RMS profile from the recipe. n_bytes = 44 + 2·n. */
  private[operators] def synthWav(id: Long): Array[Byte] = {
    val n = 64 + (id % 5).toInt * 16
    val out = new Array[Byte](44 + 2 * n)
    def p32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    def tag(off: Int, s: String): Unit =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        .zipWithIndex.foreach { case (b, i) => out(off + i) = b }
    tag(0, "RIFF"); p32(4, 36 + 2 * n); tag(8, "WAVE")
    tag(12, "fmt "); p32(16, 16)
    out(20) = 1; out(22) = 1                 // PCM, mono
    p32(24, 8000); p32(28, 16000)            // sample rate, byte rate
    out(32) = 2; out(34) = 16                // block align, bits/sample
    tag(36, "data"); p32(40, 2 * n)
    var j = 0
    while (j < n) {
      val s = (((id * 31 + (id / 5) * 3 + j.toLong * 7) % 5).toInt - 2) * 8192
      out(44 + 2 * j) = s.toByte
      out(45 + 2 * j) = (s >> 8).toByte
      j += 1
    }
    out
  }

  /** The synthesized image+audio media frame: for every document id below
    * `nMedia`, one REAL BMP payload and one REAL PCM-WAV payload (ids are
    * the oracle's replay key — each payload is a pure function of the id).
    * This is [[synthVideos]]' pattern extended to the other two
    * modalities, and what retired the old `decodeStub`: the decode is the
    * real container walk, the features replay numerically in SQL. */
  private[graft] def synthImageAudio(spark: SparkSession, dir: String,
                                     nMedia: Int = 64): DataFrame = {
    val bmpU = udf((id: Long) => synthBmp(id))
    val wavU = udf((id: Long) => synthWav(id))
    val ids = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("media_id"))
      .filter(col("media_id") < nMedia)
    ids.withColumn("payload", bmpU(col("media_id")))
      .withColumn("media_type", lit("image"))
      .unionByName(ids.withColumn("payload", wavU(col("media_id")))
        .withColumn("media_type", lit("audio")))
  }

  /** ORACLE-GATED IMAGE+AUDIO DECODE (q197) — the REAL [[decodeMedia]]
    * (javax.imageio BMP parse + javax.sound WAV parse, per-partition
    * batches) over [[synthImageAudio]], features UNNESTED to scalar rows
    * so the DuckDB hash gate compares every pooled-luma / RMS value
    * exactly. The dual of q179 for the remaining two modalities. */
  def mediaDecode(spark: SparkSession, dir: String, nMedia: Int = 64): DataFrame =
    decodeMedia(synthImageAudio(spark, dir, nMedia))
      .select(col("media_id"), col("media_type"), col("n_bytes"),
        col("decode_ok"), col("width"), col("height"),
        col("sample_rate"), col("duration_s"),
        posexplode(col("feature")).as(Seq("slot", "fval")))

  /** Per-modality decode rollup over the synthesized media (q30) — the
    * REAL decoder end-to-end: counts, byte totals, decode successes, and
    * the min/max of the leading feature slot (order-free comparisons of
    * exact-dyadic values, so the rollup replays in SQL with no float-
    * accumulation hazard). */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    decodeMedia(synthImageAudio(spark, dir))
      .groupBy("media_type")
      .agg(
        count(lit(1)).as("n_media"),
        sum("n_bytes").as("total_bytes"),
        sum(when(col("decode_ok"), 1L).otherwise(0L)).as("n_decoded"),
        min(element_at(col("feature"), 1)).as("f0_min"),
        max(element_at(col("feature"), 1)).as("f0_max"))

  /** Deterministic Y4M synthesizer behind the ORACLE-GATED video path
    * (q179): one 8×4 C420 video per doc_id, scene length 2 + id mod 3
    * frames, 8 + 4·(id mod 5) frames total (always divisible by the
    * fingerprint's 4 temporal bins), and every 2×2 grid-cell region filled
    * with a SINGLE byte that is either 0 or 255 by the integer recipe
    * `(id·31 + scene·97 + cell·13) mod 5 < 2`. Binary cells are the design
    * point: each pooled grid value decodes to exactly 0.0 or 1.0, so every
    * float the cut metric, segment mean, and fingerprint thresholds touch
    * is an exact dyadic rational — DuckDB replays the whole pipeline from
    * the recipe NUMERICALLY while Spark walks the REAL container bytes
    * (y4mScan header/frame parse, Y-plane pooling, chroma skip). */
  private[operators] def synthY4m(id: Long): Array[Byte] = {
    val (w, h) = (8, 4)
    val sceneLen = 2 + (id % 3).toInt
    val nFrames = 8 + (id % 5).toInt * 4
    val out = new java.io.ByteArrayOutputStream()
    out.write("YUV4MPEG2 W8 H4 F25:1 Ip A1:1 C420\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val chroma = Array.fill(2 * ((w + 1) / 2) * ((h + 1) / 2))(128.toByte)
    val frameMark = "FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var f = 0
    while (f < nFrames) {
      out.write(frameMark)
      val scene = f / sceneLen
      val plane = new Array[Byte](w * h)
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          val cell = (yy * 2 / h) * 4 + (xx * 4 / w)
          val on = (id * 31 + scene.toLong * 97 + cell.toLong * 13) % 5 < 2
          plane(yy * w + xx) = if (on) 255.toByte else 0.toByte
          xx += 1
        }
        yy += 1
      }
      out.write(plane)
      out.write(chroma)
      f += 1
    }
    out.toByteArray
  }

  /** The synthesized-video media frame: one video per document id below
    * `nMedia` (ids are the oracle's replay key — the payload is a pure
    * function of the id). */
  private[graft] def synthVideos(spark: SparkSession, dir: String,
                                 nMedia: Int = 64): DataFrame = {
    val synthU = udf((id: Long) => synthY4m(id))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("media_id"))
      .filter(col("media_id") < nMedia)
      .withColumn("payload", synthU(col("media_id")))
      .withColumn("media_type", lit("video"))
  }

  /** ORACLE-GATED VIDEO PATH (q179) — the [[videoSceneCuts]] segmentation
    * and [[videoFingerprint]] bits over [[synthVideos]], the q30 pattern
    * taken all the way: the decode is the real container walk, and because
    * the synthetic grids are binary the segment bounds, second bounds,
    * mean luminance, and fingerprint comparisons all replay bit-for-bit
    * from the integer recipe in SQL — the video logic gets a full DuckDB
    * hash gate instead of the spec-only evidence class. */
  def videoSegments(spark: SparkSession, dir: String, nMedia: Int = 64): DataFrame = {
    val media = synthVideos(spark, dir, nMedia)
    videoSceneCuts(media)
      .join(videoFingerprint(media), Seq("media_id"))
      .select(col("media_id"), col("seg_idx"), col("start_frame"),
        col("n_frames"), col("start_s"), col("dur_s"), col("mean_luma"),
        col("fp"))
  }
}
