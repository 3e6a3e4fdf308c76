package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, plus the decode / feature-extract / frame-sample
  * operators a training-data pipeline runs over them.
  *
  * The decode path is REAL: [[imageTable]] encodes each document's pixels
  * into an actual 16x16 grayscale PNG with `javax.imageio` on the
  * executors, and `extractFeatures`/`resize` recover the pixels with
  * `ImageIO.read` before running the pixel math. Pixels derive from the
  * document's UTF-8 bytes by a fixed rule (`pix[p] = byte[p mod n]`), and
  * 8-bit gray PNG is lossless, so the DuckDB oracle can replay pixel rule
  * + math in SQL while Spark runs encode→decode→math over real PNG bytes
  * — a full differential check of a real codec path. Everything Spark-side
  * is partition-parallel batch processing via mapPartitions (one JVM-side
  * batch per partition, the Scala analogue of an Arrow-batched pandas
  * UDF); metadata queries stay in whole-stage codegen and never touch the
  * payload. At 100 TB the payload column dominates I/O: these plans only
  * project `payload` in operators that need the bytes, so metadata-only
  * queries read a few KB of parquet column chunks per file.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
      mime: String, source: String)

  val kinds = Seq("image", "audio", "video")

  /** Synthesize the media table from documents: the text bytes stand in
    * for encoded media; kind/mime cycle deterministically. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(kinds.map(lit): _*), (col("doc_id") % 3 + 1).cast("int"))
        .as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      col("source"))

  /** Metadata + payload-prefix stats — pure codegen, no UDF: the query a
    * corpus owner runs constantly, and it must not decode anything. */
  def mediaStats(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).select(
      col("media_id"), col("kind"),
      length(col("payload")).cast("long").as("n_bytes"),
      hex(substring(col("payload"), 1, 8)).as("head_hex"))
      .orderBy(col("media_id"))

  /** Frame sampling: slice the payload into 4 equal-length frames (binary
    * substring arithmetic — for real video this is the keyframe-offset
    * computation; the byte-slicing plumbing is identical). */
  val NumFrames = 4

  def frameSample(s: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(s, dir)
      .withColumn("frame_len", (length(col("payload")) / NumFrames).cast("int"))
    media.select(
        col("media_id"),
        posexplode(array((0 until NumFrames).map(i =>
          col("payload").substr(col("frame_len") * i + 1, col("frame_len"))): _*))
          .as(Seq("frame_id", "frame")))
      .select(col("media_id"), col("frame_id").cast("long").as("frame_id"),
        length(col("frame")).cast("long").as("frame_bytes"),
        hex(substring(col("frame"), 1, 4)).as("frame_head_hex"))
      .orderBy(col("media_id"), col("frame_id"))
  }

  /** Image dimensions for the synthesized PNG corpus: 16x16 = 256 gray
    * pixels per document, `pix[p] = text_byte[p mod n]` (0 if empty). The
    * rule is what makes the codec path oracle-checkable — DuckDB derives
    * the same pixels from the text hex, never touching PNG bytes. */
  val ImgW = 16
  val ImgH = 16

  private[graft] def pixelsOf(src: Array[Byte]): Array[Int] =
    Array.tabulate(ImgW * ImgH)(p => if (src.isEmpty) 0 else src(p % src.length) & 0xff)

  /** The image corpus: real PNG payloads, encoded on the executors with
    * `javax.imageio`. One narrow scan of documents; encoding is
    * partition-local CPU with no shuffle. */
  def imageTable(s: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("src"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, src) =>
          (id, ImageCodec.encodeGrayPng(pixelsOf(src), ImgW, ImgH))
        }
      }
  }

  final case class MediaFeaturesV2(media_id: Long, width: Int, height: Int,
      feat: Array[Float], feat_norm: Double)

  /** Decode + feature-extract over partition-local batches: `ImageIO.read`
    * recovers the pixels from the PNG container, then an 8-bucket mean
    * pools them into the feature vector (mean in double, narrowed to
    * float — the arithmetic SQL engines speak, so the real decode path
    * keeps a full differential oracle). */
  def extractFeatures(s: SparkSession, dir: String): Dataset[MediaFeaturesV2] = {
    import s.implicits._
    val FeatDim = 8
    imageTable(s, dir)
      .mapPartitions { rows =>
        rows.map { case (id, png) =>
          val (w, h, px) = ImageCodec.decodeGray(png)
          val bucket = math.max(1, px.length / FeatDim)
          val feat = Array.tabulate(FeatDim) { i =>
            var sum = 0L; var n = 0; var j = i * bucket
            val end = math.min((i + 1) * bucket, px.length)
            while (j < end) { sum += px(j); n += 1; j += 1 }
            if (n == 0) 0f else (sum.toDouble / n).toFloat
          }
          val norm = math.sqrt(feat.map(f => f.toDouble * f).sum)
          MediaFeaturesV2(id, w, h, feat, norm)
        }
      }
  }

  final case class ResizedImage(media_id: Long, width: Int, height: Int,
      resized_w: Int, resized_h: Int, resized_sum: Long,
      resized_head: Array[Byte], roundtrip_ok: Boolean)

  /** Resize: real decode → 2x2 box-filter downsample → real PNG re-encode.
    * The re-encoded PNG is decoded again and compared pixel-for-pixel
    * (`roundtrip_ok`), so the encode leg is exercised inside the checked
    * query, while the reported values (dims, pixel checksum, head pixels)
    * stay SQL-derivable. */
  def resize(s: SparkSession, dir: String): Dataset[ResizedImage] = {
    import s.implicits._
    imageTable(s, dir)
      .mapPartitions { rows =>
        rows.map { case (id, png) =>
          val (w, h, px) = ImageCodec.decodeGray(png)
          val (rw, rh, r) = ImageCodec.downsample2x2(px, w, h)
          val reencoded = ImageCodec.encodeGrayPng(r, rw, rh)
          val (w2, h2, px2) = ImageCodec.decodeGray(reencoded)
          val ok = w2 == rw && h2 == rh && java.util.Arrays.equals(px2, r)
          ResizedImage(id, w, h, rw, rh, r.map(_.toLong).sum,
            r.take(8).map(_.toByte), ok)
        }
      }
  }

  def resizeQuery(s: SparkSession, dir: String): DataFrame =
    resize(s, dir).toDF()
      .select(col("media_id"), col("width"), col("height"),
        col("resized_w"), col("resized_h"), col("resized_sum"),
        hex(col("resized_head")).as("resized_head_hex"), col("roundtrip_ok"))
      .orderBy(col("media_id"))

  def featuresQuery(s: SparkSession, dir: String): DataFrame = {
    val wide = extractFeatures(s, dir).toDF()
    wide.select(
      (col("media_id") +: col("width") +: col("height") +:
        (0 until 8).map(i => element_at(col("feat"), i + 1).as(s"f$i")) :+
        col("feat_norm")): _*)
      .orderBy(col("media_id"))
  }

  // -------------------------------------------------------------------
  // Image near-dup: perceptual hash (aHash) + banded hamming join

  /** 16-bit bands over the 64-bit hash. With hamming threshold
    * [[PhashMaxHamming]] = bands − 1, the band join is EXACT by
    * pigeonhole: ≤ 3 differing bits cannot touch all 4 bands, so every
    * qualifying pair shares at least one identical band. */
  val PhashBands = 4
  val PhashMaxHamming = 3

  /** 64-bit average hash of a decoded grayscale image: 2x2 box filter to
    * 8x8, bit q set iff block q exceeds the integer mean — all integer
    * arithmetic, so the DuckDB oracle replays it exactly from the pixel
    * rule. */
  private[graft] def aHash64(px: Array[Int], w: Int, h: Int): Long = {
    val (rw, rh, r) = ImageCodec.downsample2x2(px, w, h)
    require(rw * rh == 64, s"aHash expects an 8x8 grid, got ${rw}x$rh")
    val thr = r.map(_.toLong).sum / 64
    var hash = 0L
    var q = 0
    while (q < 64) { if (r(q) > thr) hash |= 1L << q; q += 1 }
    hash
  }

  /** Hot-band cap: a degenerate corpus (millions of identical flat
    * images hashing to one band value) would turn the band join
    * quadratic; over-cap bands split into id-mod salt groups via
    * [[LshSkew.saltBuckets]] (window-count sizing — band values are
    * content hashes, so the key space is unbounded and the sizes table
    * must stay shuffle-side). Under the cap the salt is constant 0 and
    * the join is bit-identical to the unguarded one. */
  val PhashBucketCap = 1024

  /** Banded hamming near-dup pairs over any (media_id, phash) frame —
    * factored so planted-fixture tests exercise the exact production
    * join. The band explode is the LSH-bucket pattern: pairs are only
    * generated within a (band, value, salt) bucket, so cost scales with
    * min(bucket, cap) population, never all-pairs. */
  private[graft] def phashPairsOn(hashes: DataFrame,
      cap: Int = PhashBucketCap): DataFrame = {
    val bandVals = array((0 until PhashBands).map(b =>
      shiftright(col("phash"), b * 16).bitwiseAND(lit(65535L))): _*)
    val bands = LshSkew.saltBuckets(
      hashes.select(col("media_id"), col("phash"),
        posexplode(bandVals).as(Seq("b", "bv"))),
      Seq("b", "bv"), "media_id", cap)
    val left = bands.select(col("b"), col("bv"), col("salt"),
      col("media_id").as("id_a"), col("phash").as("ha"))
    val right = bands.select(col("b"), col("bv"), col("salt"),
      col("media_id").as("id_b"), col("phash").as("hb"))
    left.join(right, Seq("b", "bv", "salt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)
      .distinct()
  }

  /** Image near-duplicate pairs through the REAL codec path: PNG decode,
    * box-downsample, aHash on the executors; banded hamming join for the
    * pair scan. Near-identical images (the corpus's planted text dups)
    * land at hamming 0; the oracle replays hash + join from the pixel
    * rule without touching PNG bytes.
    *
    * The corpus fingerprint table is BUILD-ONCE state (the embedding
    * pair-state convention): fingerprints are a deterministic function
    * of the corpus, and a production media pipeline persists them beside
    * the index instead of re-decoding every asset for every audit and
    * serve — before, each of the ~8 corpus-grain consumers paid the full
    * codec pass per invocation.
    *
    * SERVE-MEASUREMENT CONTRACT (pinned in MultimodalSpec's "serve
    * contract pin" test, resolving the r20 verdict's item 2): the BATCH
    * lifecycle verbs (mm_serve_deleted / cutover / asof, and the
    * forget-audit's media universe) read the eval split's fingerprints
    * from THIS state — their query side is a fixed slice of the frozen
    * corpus, and fingerprints are a pure per-row function of it, so the
    * state read is row-identical to re-running the codec kernel on the
    * slice (the pin asserts both the fingerprint equality and the
    * serve-result equality). The STREAMING serve (stream_mm_serve)
    * fingerprints each ARRIVING micro-batch via [[phashTableOf]] — query
    * documents that are not corpus rows have no state to read, and that
    * per-batch decode IS the measured embed-at-serve path. */
  private[graft] def phashTable(s: SparkSession, dir: String): DataFrame = {
    val st = graft.StateCache.stateDir(dir, "mm/phash", "graft_mmphash") { d =>
      phashTableOf(Tables.documents(s, dir)).write.parquet(s"$d/t")
    }
    s.read.parquet(s"$st/t")
  }

  /** The phash pass over ANY documents-shaped frame (encode to a real
    * PNG, decode it back, aHash the recovered pixels — one
    * partition-local map, no shuffle), factored so the serving path can
    * fingerprint a streaming micro-batch with the exact production
    * kernel. */
  private[graft] def phashTableOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("src"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, src) =>
          val png = ImageCodec.encodeGrayPng(pixelsOf(src), ImgW, ImgH)
          val (w, h, px) = ImageCodec.decodeGray(png)
          (id, aHash64(px, w, h))
        }
      }
      .toDF("media_id", "phash")
  }

  def phashNearDup(s: SparkSession, dir: String): DataFrame =
    phashPairsOn(phashTable(s, dir)).orderBy(col("id_a"), col("id_b"))

  /** The min-lower-id DEDUP decision over any (media_id, phash) frame —
    * one body behind the image and audio dedups so every modality keeps
    * the same survivor contract as [[Similarity]]'s embedding dedup and
    * the SemDeDup path: a clip/image is a duplicate iff some lower-id one
    * sits within hamming [[PhashMaxHamming]]; its keeper is the smallest
    * such id. */
  private def hashDedupOn(hashTable: DataFrame): DataFrame = {
    // persist: the pair subtree and the outer corpus join both consume the
    // hash table, and regenerating it means a second full codec decode
    // pass (the dominant cost) — the withSigs/minhashLshPairs precedent
    val hashes = hashTable.persist()
    val dupOf = phashPairsOn(hashes)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
    hashes.join(dupOf, col("media_id") === col("id_b"), "left")
      .select(col("media_id"),
        coalesce(col("dup_of"), col("media_id")).as("keeper"),
        col("dup_of").isNotNull.cast("long").as("is_dup"))
      .orderBy(col("media_id"))
  }

  /** Image DEDUP decision through the real PNG codec path. */
  def phashDedup(s: SparkSession, dir: String): DataFrame =
    hashDedupOn(phashTable(s, dir))

  /** Media-tier leakage-safe split — the third cell of the leakage-split
    * matrix (text/embedding twins: `text_leakage_split` /
    * `sim_leakage_split`): every asset goes to the split its phash
    * near-dup component representative md5-hashes to, so no pair of
    * near-duplicate images straddles a train/eval boundary (an eval
    * image whose crop/re-encode sits in train is leakage the text tier
    * cannot see). Components ride the shared [[Dedup.componentsOver]]
    * contraction over the banded-hamming pair stream; the phash pass is
    * the production codec kernel, the split one per-row md5. */
  def mmLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    // no persist needed: the hash table is a KB-scale state read now,
    // both consumers re-read the parquet
    val hashes = phashTable(s, dir)
    Dedup.splitByComponent(hashes.select(col("media_id")),
        phashPairsOn(hashes).select(col("id_a"), col("id_b")))
      .orderBy(col("media_id"))
  }

  // -------------------------------------------------------------------
  // Audio tier: real WAV/RIFF codec (javax.sound.sampled)

  /** Samples per synthesized clip; sample rate of the WAV containers. */
  val AudioSamples = 256
  val AudioRate = 16000

  /** Signed PCM16 sample rule, the audio analogue of [[pixelsOf]]:
    * `s[i] = (byte[i mod n] - 128) * 256` (byte 0 if empty) — centered
    * and scaled to the int16 range, and replayable in SQL. */
  private[graft] def samplesOf(src: Array[Byte]): Array[Short] =
    Array.tabulate(AudioSamples) { i =>
      val b = if (src.isEmpty) 0 else src(i % src.length) & 0xff
      ((b - 128) * 256).toShort
    }

  /** The audio corpus: real WAV payloads encoded on the executors. */
  def audioTable(s: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("src"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, src) =>
          (id, AudioCodec.encodePcm16Wav(samplesOf(src), AudioRate))
        }
      }
  }

  final case class AudioFeatures(media_id: Long, sample_rate: Int,
      n_samples: Long, rms: Double, zero_crossings: Long, peak: Int)

  /** Decode + signal features over partition-local batches: the JDK
    * parses the RIFF container back to PCM, then RMS energy, zero-crossing
    * count (sign changes, zero counted non-negative) and peak amplitude —
    * the quality/VAD-style stats an audio curation pass computes. All
    * integer-and-double math, so the real decode path keeps a full
    * differential oracle. */
  def audioFeatures(s: SparkSession, dir: String): Dataset[AudioFeatures] = {
    import s.implicits._
    audioTable(s, dir)
      .mapPartitions { rows =>
        rows.map { case (id, wav) =>
          val (rate, pcm) = AudioCodec.decodePcm16Wav(wav)
          var sumSq = 0L
          var zc = 0L
          var peak = 0
          var i = 0
          while (i < pcm.length) {
            val v = pcm(i).toInt
            sumSq += v.toLong * v
            if (i > 0 && ((v >= 0) != (pcm(i - 1) >= 0))) zc += 1
            if (math.abs(v) > peak) peak = math.abs(v)
            i += 1
          }
          val rms = math.sqrt(sumSq.toDouble / pcm.length)
          AudioFeatures(id, rate, pcm.length.toLong, rms, zc, peak)
        }
      }
  }

  def audioFeaturesQuery(s: SparkSession, dir: String): DataFrame =
    audioFeatures(s, dir).toDF()
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("rms"), col("zero_crossings"), col("peak"))
      .orderBy(col("media_id"))

  // -------------------------------------------------------------------
  // Audio near-dup: banded energy fingerprint + the shared hamming join

  /** 64-bit audio fingerprint of a decoded PCM16 clip — the audio
    * analogue of [[aHash64]]: the clip splits into 64 equal blocks, bit q
    * set iff block q's absolute-amplitude energy exceeds the integer mean
    * energy. All integer arithmetic over the losslessly-decoded samples,
    * so the DuckDB oracle replays it exactly from the sample rule; a
    * re-encoded identical clip lands at hamming 0, and the near-dup join,
    * threshold and survivor contract are the SAME machinery as the image
    * tier ([[phashPairsOn]], [[hashDedupOn]]). */
  private[graft] def audioHash64(pcm: Array[Short]): Long = {
    val blocks = 64
    val per = math.max(1, pcm.length / blocks)
    val e = new Array[Long](blocks)
    var q = 0
    while (q < blocks) {
      var s = 0L
      var i = q * per
      val end = math.min((q + 1) * per, pcm.length)
      while (i < end) { s += math.abs(pcm(i).toInt); i += 1 }
      e(q) = s
      q += 1
    }
    val thr = e.sum / blocks
    var hash = 0L
    q = 0
    while (q < blocks) { if (e(q) > thr) hash |= 1L << q; q += 1 }
    hash
  }

  /** (media_id, phash) over the REAL audio codec path: WAV decode on the
    * executors, then the banded energy fingerprint. One narrow documents
    * scan, partition-local CPU, no shuffle before the band join. */
  private def audioHashTable(s: SparkSession, dir: String): DataFrame = {
    // build-once fingerprint state, the [[phashTable]] convention
    val st = graft.StateCache.stateDir(dir, "mm/audiohash",
        "graft_mmaudio") { d =>
      import s.implicits._
      audioTable(s, dir)
        .mapPartitions { rows =>
          rows.map { case (id, wav) =>
            val (_, pcm) = AudioCodec.decodePcm16Wav(wav)
            (id, audioHash64(pcm))
          }
        }
        .toDF("media_id", "phash")
        .write.parquet(s"$d/t")
    }
    s.read.parquet(s"$st/t")
  }

  /** Audio near-duplicate pairs through the real WAV codec path. */
  def audioNearDup(s: SparkSession, dir: String): DataFrame =
    phashPairsOn(audioHashTable(s, dir)).orderBy(col("id_a"), col("id_b"))

  /** Audio DEDUP decision — same survivor contract as every modality. */
  def audioDedup(s: SparkSession, dir: String): DataFrame =
    hashDedupOn(audioHashTable(s, dir))

  // -------------------------------------------------------------------
  // Video tier: real multi-frame GIF container (JDK ImageIO)

  /** Frame geometry: the same 256-pixel rule as [[pixelsOf]], viewed as
    * [[VideoFrames]] frames of [[FrameW]]x[[FrameH]] — one linear rule
    * serves image, audio, and video oracles. */
  val VideoFrames = 4
  val FrameW = 8
  val FrameH = 8

  /** The video corpus: real multi-frame GIFs encoded on the executors. */
  def videoTable(s: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("src"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, src) =>
          val frames = pixelsOf(src).grouped(FrameW * FrameH).toSeq
          (id, VideoCodec.encodeGifFrames(frames, FrameW, FrameH))
        }
      }
  }

  final case class VideoFrameStats(media_id: Long, frame_id: Long,
      frame_w: Int, frame_h: Int, frame_sum: Long, head_px: Int)

  /** Decode every frame of the GIF container and emit per-frame stats —
    * the real-codec upgrade of [[frameSample]]'s byte slicing: the frame
    * boundary comes from the container's image directory, not arithmetic
    * over raw bytes. */
  def videoFrameStats(s: SparkSession, dir: String): Dataset[VideoFrameStats] = {
    import s.implicits._
    videoTable(s, dir)
      .mapPartitions { rows =>
        rows.flatMap { case (id, gif) =>
          val (w, h, frames) = VideoCodec.decodeGifFrames(gif)
          frames.zipWithIndex.map { case (px, f) =>
            VideoFrameStats(id, f.toLong, w, h,
              px.map(_.toLong).sum, px(0))
          }
        }
      }
  }

  def videoFramesQuery(s: SparkSession, dir: String): DataFrame =
    videoFrameStats(s, dir).toDF()
      .select(col("media_id"), col("frame_id"), col("frame_w"),
        col("frame_h"), col("frame_sum"), col("head_px"))
      .orderBy(col("media_id"), col("frame_id"))

  // -------------------------------------------------------------------
  // Video near-dup: per-frame aHash + temporally-aligned frame votes

  /** Minimum matching frames (of [[VideoFrames]]) for a video pair to
    * count as near-duplicate — the frame-vote threshold that tolerates
    * one edited/corrupted frame without letting a single coincidental
    * frame match pair up two unrelated clips. */
  val VideoVoteMin = 3

  /** Direct 64-bit aHash of one 8x8 frame: bit q set iff pixel q exceeds
    * the frame's integer mean — the [[aHash64]] rule without the
    * downsample step (the frame already IS the 64-cell grid). The
    * geometry guard mirrors [[aHash64]]'s: a frame that isn't 64 pixels
    * would silently hash over pixels that never map to bits and diverge
    * from the oracle's 64-pixel replay. */
  private[graft] def frameHash64(px: Array[Int]): Long = {
    require(px.length == 64, s"frameHash64 expects 64 pixels, got ${px.length}")
    val thr = px.map(_.toLong).sum / 64
    var hash = 0L
    var q = 0
    while (q < 64) { if (px(q) > thr) hash |= 1L << q; q += 1 }
    hash
  }

  /** (media_id, frame_id, phash) through the REAL GIF container path:
    * frames come from the container's image directory, hashed
    * partition-locally. */
  private def videoHashTable(s: SparkSession, dir: String): DataFrame = {
    // build-once fingerprint state, the [[phashTable]] convention
    val st = graft.StateCache.stateDir(dir, "mm/videohash",
        "graft_mmvideo") { d =>
      import s.implicits._
      videoTable(s, dir)
        .mapPartitions { rows =>
          rows.flatMap { case (id, gif) =>
            val (_, _, frames) = VideoCodec.decodeGifFrames(gif)
            frames.zipWithIndex.map { case (px, f) =>
              (id, f.toLong, frameHash64(px)) }
          }
        }
        .toDF("media_id", "frame_id", "phash")
        .write.parquet(s"$d/t")
    }
    s.read.parquet(s"$st/t")
  }

  /** Temporally-aligned per-frame candidate pairs: the image tier's
    * banded hamming join with `frame_id` prepended to the bucket key, so
    * only same-position frames ever pair (frame-vote near-dup compares
    * clip timelines, not bags of frames — and the stricter key also
    * shrinks every bucket). Same exact-by-pigeonhole threshold, same
    * salt-cap guard. */
  private[graft] def framePairs(hashes: DataFrame,
      cap: Int = PhashBucketCap): DataFrame = {
    val bandVals = array((0 until PhashBands).map(b =>
      shiftright(col("phash"), b * 16).bitwiseAND(lit(65535L))): _*)
    val bands = LshSkew.saltBuckets(
      hashes.select(col("media_id"), col("frame_id"), col("phash"),
        posexplode(bandVals).as(Seq("b", "bv"))),
      Seq("frame_id", "b", "bv"), "media_id", cap)
    val left = bands.select(col("frame_id"), col("b"), col("bv"), col("salt"),
      col("media_id").as("id_a"), col("phash").as("ha"))
    val right = bands.select(col("frame_id"), col("b"), col("bv"), col("salt"),
      col("media_id").as("id_b"), col("phash").as("hb"))
    left.join(right, Seq("frame_id", "b", "bv", "salt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("frame_id"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)
      .distinct()
  }

  /** The frame-vote aggregation — ONE statement of the qualifying-pair
    * rule (≥ [[VideoVoteMin]] aligned frames within hamming) behind both
    * the near-dup listing and the dedup decision, so the two cannot
    * disagree on which pairs qualify. */
  private def votedPairs(hashes: DataFrame): DataFrame =
    framePairs(hashes)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_frames_match"),
        sum(col("hamming")).as("sum_hamming"))
      .filter(col("n_frames_match") >= VideoVoteMin)

  /** Video near-duplicate pairs by frame vote: a pair qualifies iff at
    * least [[VideoVoteMin]] of its aligned frames match within hamming
    * [[PhashMaxHamming]]. Emits the vote count and total hamming — the
    * similarity evidence a review queue would sort by. */
  def videoNearDup(s: SparkSession, dir: String): DataFrame =
    votedPairs(videoHashTable(s, dir))
      .orderBy(col("id_a"), col("id_b"))

  /** Video DEDUP decision — the shared min-lower-id survivor contract
    * over the frame-vote pairs. */
  def videoDedup(s: SparkSession, dir: String): DataFrame = {
    // persist: pair subtree and the id universe both consume the hash
    // table; regenerating means a second full GIF decode pass
    val hashes = videoHashTable(s, dir).persist()
    val dupOf = votedPairs(hashes)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
    hashes.select(col("media_id")).distinct()
      .join(dupOf, col("media_id") === col("id_b"), "left")
      .select(col("media_id"),
        coalesce(col("dup_of"), col("media_id")).as("keeper"),
        col("dup_of").isNotNull.cast("long").as("is_dup"))
      .orderBy(col("media_id"))
  }

  /** Cross-modal dedup funnel — the one-screen audit of the whole
    * modality near-dup matrix: for each fingerprint pipeline (image
    * aHash, audio energy fingerprint, video frame-vote) over the same
    * asset corpus, how many assets it saw, how many it marked duplicate,
    * and how many survive. The cross-modality comparison is the point: a
    * modality whose dup rate diverges wildly from its siblings on the
    * same corpus usually means its fingerprint (not the corpus) changed.
    * Cost = the three dedup decisions it audits (the
    * [[Dedup.curationFunnel]] contract: an audit over subplans that ARE
    * the standalone declared queries, so the numbers cannot drift from
    * them); each rollup is a single-row aggregate on top. */
  def dedupFunnel(s: SparkSession, dir: String): DataFrame = {
    def roll(kind: String, decision: DataFrame): DataFrame =
      decision.agg(count(lit(1)).as("n_assets"), sum(col("is_dup")).as("n_dups"))
        .select(lit(kind).as("modality"), col("n_assets"), col("n_dups"),
          (col("n_assets") - col("n_dups")).as("n_survivors"))
    roll("audio", audioDedup(s, dir))
      .unionByName(roll("image", phashDedup(s, dir)))
      .unionByName(roll("video", videoDedup(s, dir)))
      .orderBy(col("modality"))
  }

  /** Joint image+text PAIR dedup — the survivor decision for an
    * image-text pair corpus (the dominant multimodal training input),
    * where each pair id carries a caption (the document text) and an
    * image (the encoded pixels): a pair survives ONLY when BOTH tiers
    * keep it. The per-modality decisions are the standalone declared
    * ones — the image tier's banded-phash min-lower-id dedup
    * ([[phashDedup]]) and the text tier's exact-Jaccard min-lower-id
    * contract ([[Dedup.ngramJaccardPairs]], the stream_neardup_dedup
    * rule) — joined on the pair id, so this decision can never drift from
    * the single-modality queries. A caption duplicated under a fresh
    * image, or an image reposted under a fresh caption, both still drop:
    * the standard both-modality strictness for paired corpora.
    *
    * Shape at scale: two bucketed pair scans (never n²) + one equi-join
    * on the pair id; the decision columns are the same aggregates the
    * standalone dedups emit. */
  def pairDedup(s: SparkSession, dir: String): DataFrame = {
    val img = phashDedup(s, dir)
      .select(col("media_id").as("pair_id"),
        col("keeper").as("image_keeper"), col("is_dup").as("image_is_dup"))
    val txtDup = Dedup.corpusPairs(s, dir)
      .groupBy(col("doc_b")).agg(min(col("doc_a")).as("text_dup_of"))
    val txt = graft.Tables.documents(s, dir)
      .select(col("doc_id").as("pair_id"))
      .join(txtDup, col("pair_id") === col("doc_b"), "left")
      .select(col("pair_id"),
        coalesce(col("text_dup_of"), col("pair_id")).as("text_keeper"),
        col("text_dup_of").isNotNull.cast("long").as("text_is_dup"))
    img.join(txt, "pair_id")
      .select(col("pair_id"), col("image_keeper"), col("image_is_dup"),
        col("text_keeper"), col("text_is_dup"),
        ((col("image_is_dup") === 0) && (col("text_is_dup") === 0))
          .cast("long").as("keep_pair"))
      .orderBy(col("pair_id"))
  }

  /** Cross-modality A/V near-dup — the last cell of the modality matrix:
    * clip pairs whose AUDIO fingerprints sit within the hamming radius
    * AND whose VIDEO timelines agree on ≥ [[VideoVoteMin]] aligned
    * frames. Re-encoded copies match on both tracks; a re-dubbed video or
    * a re-scored audio track matches on one only and drops out — the
    * joint evidence an AV dedup queue reviews. Both pair streams are the
    * standalone banded joins (bucketed, never n²); the combination is one
    * equi-join on the (lower, higher) id pair. */
  def videoAudioNearDup(s: SparkSession, dir: String): DataFrame = {
    val audio = phashPairsOn(audioHashTable(s, dir))
      .select(col("id_a"), col("id_b"), col("hamming").as("audio_hamming"))
    val video = votedPairs(videoHashTable(s, dir))
      .select(col("id_a"), col("id_b"), col("n_frames_match"),
        col("sum_hamming").as("video_sum_hamming"))
    audio.join(video, Seq("id_a", "id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Incremental image dedup — the multimodal cell of the incremental
    * matrix (text and embedding twins:
    * [[graft.streaming.StreamingDedup.incrementalDedupQuery]] and its
    * embedding sibling). The corpus's phashes (REAL PNG decode path)
    * arrive as THREE media_id-ordered slices appended to one persisted
    * LSH index, with a compaction (b0+b1 → c1) before the third append.
    * The index stores 8-byte signatures, never pixels — at 100 TB the
    * decode pass is the scan-side map and the persisted state stays tiny.
    * The monotone slice split makes first-seen-wins coincide with the
    * batch tier's min-lower-id contract, and the 4×16-bit banding is
    * pigeonhole-exact at hamming ≤ 3, so mm_phash_dedup's replayed
    * hash+band oracle (survivor filter) applies unchanged; no bucket on
    * this corpus approaches the exemplar cap or the salt threshold
    * (`MultimodalSpec` pins incremental == batch decision). */
  def mmIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val root = graft.StateCache.stateDir(dir, "mm/incremental3",
        "graft_incmm") { root =>
      val state = s"$root/state"
      val out = s"$root/out"
      val hashes = phashTable(s, dir)
      val top = hashes.agg(max(col("media_id"))).head().getLong(0)
      val (cut1, cut2) = (top / 3, 2 * top / 3)
      graft.streaming.StreamingDedup.appendMediaBatch(
        hashes.filter(col("media_id") <= cut1), state, out)
      graft.streaming.StreamingDedup.appendMediaBatch(
        hashes.filter(col("media_id") > cut1 && col("media_id") <= cut2),
        state, out)
      graft.streaming.StreamingDedup.layout.compact(s, state, 1)
      graft.streaming.StreamingDedup.appendMediaBatch(
        hashes.filter(col("media_id") > cut2), state, out)
    }
    graft.streaming.StreamingDedup.survivors(s, s"$root/out")
      .select(col("media_id")).orderBy(col("media_id"))
  }

  /** Declared query — READ-side near-dup serving on the phash index, the
    * media twin of stream_text_serve: the train split (md5 ≠ '0') is
    * indexed once through [[graft.streaming.StreamingDedup.appendMediaBatch]],
    * then the eval split arrives as a QUERY STREAM; each micro-batch is
    * fingerprinted with the production codec kernel and served read-only
    * ([[graft.streaming.StreamingDedup.serveMediaBatch]]). Oracle: the
    * 4×16-bit banding is pigeonhole-exact at hamming ≤ 3, so the output
    * is exactly the cross-split hamming pairs — replayed in SQL from the
    * pixel-rule hash. */
  def streamMmServeQuery(s: SparkSession, dir: String): DataFrame = {
    val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    // index built once per corpus (graft.StateCache); the QUERY STREAM —
    // the measured read path — drains per invocation. The build reads the
    // shared corpus fingerprint state ([[phashTable]]) instead of paying
    // its own codec pass — one decode per corpus per JVM, the r20
    // fingerprint-state convention finished (r20 verdict item 5).
    val state = graft.StateCache.stateDir(dir, "mmidx/train",
        "graft_mmserve_state") { state =>
      val sink = graft.TempDirs.scoped("graft_mmserve_sink")
      val isEvalMedia =
        substring(md5(col("media_id").cast("string")), 1, 1) === "0"
      graft.streaming.StreamingDedup
        .appendMediaBatch(phashTable(s, dir).filter(!isEvalMedia), state,
          sink)
        .count()
      ()
    }
    val out = graft.TempDirs.scoped("graft_mmserve_out")
    val queries = Tables.stream(s, dir, "documents")
      .filter(isEval)
      // stream-side projection — the foreachBatch scan-pruning rule
      .select(col("doc_id"), col("text"))
    graft.streaming.MicroBatchPipeline.drain(queries, "mmserve") { (b, id) =>
      graft.streaming.StreamingDedup
        .serveMediaBatch(phashTableOf(b), state, out, id)
    }
    s.read.parquet(s"$out/b*")
      .orderBy(col("query_media"), col("match_media"))
  }

  /** Declared query — the DELETE lifecycle on the media index
    * ([[graft.streaming.StreamingDedup.serveDeletedQuery]]'s media twin):
    * index the train split's phashes, FORGET every train asset with
    * `media_id % 5 == 2` (the shared tombstone verb), then serve the eval
    * split. A forgotten asset must stop matching; everything else serves
    * exactly as before. Oracle: the cross-split hamming pairs minus the
    * forgotten match side — one SQL predicate replays the tombstone. */
  def mmServeDeletedQuery(s: SparkSession, dir: String): DataFrame = {
    val state = mediaTrainDeletedState(s, dir)
    val out = graft.TempDirs.scoped("graft_mmsdel_out")
    val isEval = substring(md5(col("media_id").cast("string")), 1, 1) === "0"
    val hashes = phashTable(s, dir)
    graft.streaming.StreamingDedup
      .serveMediaBatch(hashes.filter(isEval), state, out, 0L)
    s.read.parquet(s"$out/b0")
      .orderBy(col("query_media"), col("match_media"))
  }

  /** The 1-append(train) + forget-%5 media-index state — built once per
    * corpus ([[graft.StateCache]]) and shared read-only by the delete
    * serve and the media manifest readout (identical mutation
    * histories); serves run per invocation. */
  private[graft] def mediaTrainDeletedState(s: SparkSession,
      dir: String): String =
    graft.StateCache.stateDir(dir, "mmidx/train_del5",
        "graft_mmsdel_state") { state =>
      val sink = graft.TempDirs.scoped("graft_mmsdel_sink")
      val isEval = substring(md5(col("media_id").cast("string")), 1, 1) === "0"
      val hashes = phashTable(s, dir)
      graft.streaming.StreamingDedup
        .appendMediaBatch(hashes.filter(!isEval), state, sink).count()
      graft.streaming.StreamingDedup.layout.delete(
        hashes.filter(!isEval && col("media_id") % 5 === 2)
          .select(col("media_id")), state)
      ()
    }

  /** Declared query — REBUILD → CUTOVER → serve-through-pointer on the
    * media index ([[graft.streaming.StreamingDedup.serveCutoverQuery]]'s
    * media twin, VERDICT r19 #1): rebuild the phash index over the LIVE
    * train assets (banded fingerprints — seeded, data-independent
    * geometry, so rebuild needs no retraining), swap the serving alias
    * atomically, serve the eval split THROUGH the pointer.
    * Rebuild-on-survivors ≡ tombstone-filtered serving, so the oracle is
    * mm_serve_deleted's cross-split text verbatim. */
  def mmServeCutoverQuery(s: SparkSession, dir: String): DataFrame = {
    val isEval = substring(md5(col("media_id").cast("string")), 1, 1) === "0"
    val hashes = phashTable(s, dir)
    val alias = graft.StateCache.stateDir(dir, "mmidx/cutover_alias",
        "graft_mmcut_alias") { a =>
      val rebuilt = graft.StateCache.stateDir(dir, "mmidx/rebuilt_live",
          "graft_mmcut_idx") { idx =>
        val sink = graft.TempDirs.scoped("graft_mmcut_sink")
        graft.streaming.StreamingDedup.appendMediaBatch(
          hashes.filter(!isEval && col("media_id") % 5 =!= 2), idx, sink)
          .count()
        ()
      }
      graft.streaming.StreamingDedup.layout.cutover(s, a, rebuilt)
    }
    val out = graft.TempDirs.scoped("graft_mmcut_out")
    graft.streaming.StreamingDedup.serveMediaBatch(hashes.filter(isEval),
      IndexFiles.resolveServing(alias), out, 0L)
    s.read.parquet(s"$out/b0")
      .orderBy(col("query_media"), col("match_media"))
  }

  /** Declared query — AS-OF snapshot serving on the media index
    * ([[graft.streaming.StreamingDedup.serveAsOfQuery]]'s media twin):
    * the train split lands as TWO id-ordered slices, a delete tombstones
    * every train asset with `media_id % 5 == 2`, and the eval split is
    * served against the SNAPSHOT at slice 0. Both the later append AND
    * the later delete are invisible — matches come only from slice-0
    * assets, including ones the delete tombstoned afterwards (time
    * travel, not filtering). Oracle: cross-split pairs whose match side
    * has id ≤ max/2, the cut replayed as a scalar subquery. */
  def mmServeAsOfQuery(s: SparkSession, dir: String): DataFrame = {
    val state = graft.StateCache.stateDir(dir, "mmidx/train2_del5",
        "graft_mmsasof_state") { state =>
      val sink = graft.TempDirs.scoped("graft_mmsasof_sink")
      val isEval = substring(md5(col("media_id").cast("string")), 1, 1) === "0"
      val hashes = phashTable(s, dir)
      val train = hashes.filter(!isEval)
      val cut = hashes.agg(max(col("media_id"))).head().getLong(0) / 2
      graft.streaming.StreamingDedup
        .appendMediaBatch(train.filter(col("media_id") <= cut), state, sink)
        .count()
      graft.streaming.StreamingDedup
        .appendMediaBatch(train.filter(col("media_id") > cut), state, sink)
        .count()
      graft.streaming.StreamingDedup.layout.delete(
        train.filter(col("media_id") % 5 === 2).select(col("media_id")),
        state)
      ()
    }
    val out = graft.TempDirs.scoped("graft_mmsasof_out")
    val isEval = substring(md5(col("media_id").cast("string")), 1, 1) === "0"
    val hashes = phashTable(s, dir)
    graft.streaming.StreamingDedup
      .serveMediaBatch(hashes.filter(isEval), state, out, 0L, asOf = 0L)
    s.read.parquet(s"$out/b0")
      .orderBy(col("query_media"), col("match_media"))
  }

  /** Shared band/salt/candidate-pair oracle suffix over a CTE named
    * `ph(media_id, phash)`: ONE SQL text behind every banded-hamming
    * oracle (image AND audio) so the band/salt replay cannot drift (the
    * deconShingleCtes / gateCteSql convention). */
  private val bandJoinCtes: String =
    s"""bands AS (SELECT media_id, phash, b,
       |    (phash >> (b * 16)) & 65535 AS bv
       |  FROM ph, UNNEST(generate_series(0, ${PhashBands - 1})) AS g(b)),
       |salted AS (SELECT media_id, phash, b, bv,
       |    media_id % CAST(CEIL(COUNT(*) OVER (PARTITION BY b, bv)
       |      / $PhashBucketCap.0) AS BIGINT) AS salt
       |  FROM bands),
       |cand AS (SELECT DISTINCT a.media_id AS id_a, a.phash AS ha,
       |    b.media_id AS id_b, b.phash AS hb
       |  FROM salted a JOIN salted b ON a.b = b.b AND a.bv = b.bv
       |    AND a.salt = b.salt AND a.media_id < b.media_id)""".stripMargin

  /** Image phash oracle prefix: pixel rule -> 8x8 blocks -> aHash, then
    * the shared [[bandJoinCtes]]. */
  private val phashOracleCtes: String =
    s"""WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
       |    octet_length(encode(text)) AS n FROM documents),
       |pix AS (SELECT media_id, CAST(p AS INT) AS p,
       |    CASE WHEN n = 0 THEN 0
       |      ELSE (concat('0x', substr(h, 2*CAST(p % n AS INT)+1, 2)))::INT
       |    END AS v
       |  FROM m, UNNEST(generate_series(0, 255)) AS g(p)),
       |blk AS (SELECT media_id, ((p//16)//2)*8 + (p%16)//2 AS q,
       |    CAST(SUM(v) // 4 AS INT) AS r
       |  FROM pix GROUP BY 1, 2),
       |ph AS (SELECT media_id,
       |    CAST(SUM(CASE WHEN r > thr THEN
       |      CASE WHEN q = 63 THEN -9223372036854775808
       |        ELSE (1::BIGINT << CAST(q AS INT)) END
       |      ELSE 0 END) AS BIGINT) AS phash
       |  FROM (SELECT b.*, s.thr FROM blk b
       |        JOIN (SELECT media_id, SUM(r) // 64 AS thr FROM blk GROUP BY 1) s
       |        USING (media_id))
       |  GROUP BY media_id),
       |$bandJoinCtes""".stripMargin

  /** Audio fingerprint oracle prefix: the PCM16 sample rule
    * ((byte - 128) * 256), 64 four-sample blocks of absolute-amplitude
    * energy, bit q iff block energy > integer mean — then the SAME
    * [[bandJoinCtes]] the image oracle uses. */
  private val audioHashOracleCtes: String =
    s"""WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
       |    octet_length(encode(text)) AS n FROM documents),
       |pix AS (SELECT media_id, CAST(p AS INT) AS i,
       |    CASE WHEN n = 0 THEN 0
       |      ELSE (concat('0x', substr(h, 2*CAST(p % n AS INT)+1, 2)))::INT
       |    END AS v
       |  FROM m, UNNEST(generate_series(0, ${AudioSamples - 1})) AS g(p)),
       |e AS (SELECT media_id, i // 4 AS q,
       |    SUM(CAST(abs((v - 128) * 256) AS BIGINT)) AS e
       |  FROM pix GROUP BY 1, 2),
       |ph AS (SELECT media_id,
       |    CAST(SUM(CASE WHEN e > thr THEN
       |      CASE WHEN q = 63 THEN -9223372036854775808
       |        ELSE (1::BIGINT << CAST(q AS INT)) END
       |      ELSE 0 END) AS BIGINT) AS phash
       |  FROM (SELECT b.*, s.thr FROM e b
       |        JOIN (SELECT media_id, SUM(e) // 64 AS thr FROM e GROUP BY 1) s
       |        USING (media_id))
       |  GROUP BY media_id),
       |$bandJoinCtes""".stripMargin

  /** Video frame-vote oracle prefix: pixel rule -> per-frame direct aHash
    * (frame f = p // 64, in-frame bit q = p % 64) -> per-frame bands with
    * frame_id in the bucket key -> qualifying frame pairs `fp`. */
  private val videoHashOracleCtes: String =
    s"""WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
       |    octet_length(encode(text)) AS n FROM documents),
       |pix AS (SELECT media_id, CAST(p AS INT) AS p,
       |    CASE WHEN n = 0 THEN 0
       |      ELSE (concat('0x', substr(h, 2*CAST(p % n AS INT)+1, 2)))::INT
       |    END AS v
       |  FROM m, UNNEST(generate_series(0, 255)) AS g(p)),
       |fpix AS (SELECT media_id, p // ${FrameW * FrameH} AS f,
       |    p % ${FrameW * FrameH} AS q, v FROM pix),
       |fh AS (SELECT media_id, CAST(f AS BIGINT) AS frame_id,
       |    CAST(SUM(CASE WHEN v > thr THEN
       |      CASE WHEN q = 63 THEN -9223372036854775808
       |        ELSE (1::BIGINT << CAST(q AS INT)) END
       |      ELSE 0 END) AS BIGINT) AS phash
       |  FROM (SELECT a.*, s.thr FROM fpix a
       |        JOIN (SELECT media_id, f, SUM(v) // ${FrameW * FrameH} AS thr
       |              FROM fpix GROUP BY 1, 2) s
       |        ON a.media_id = s.media_id AND a.f = s.f)
       |  GROUP BY media_id, frame_id),
       |bands AS (SELECT media_id, frame_id, phash, b,
       |    (phash >> (b * 16)) & 65535 AS bv
       |  FROM fh, UNNEST(generate_series(0, ${PhashBands - 1})) AS g(b)),
       |salted AS (SELECT media_id, frame_id, phash, b, bv,
       |    media_id % CAST(CEIL(COUNT(*) OVER (PARTITION BY frame_id, b, bv)
       |      / $PhashBucketCap.0) AS BIGINT) AS salt
       |  FROM bands),
       |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
       |    a.frame_id, a.phash AS ha, b.phash AS hb
       |  FROM salted a JOIN salted b ON a.frame_id = b.frame_id
       |    AND a.b = b.b AND a.bv = b.bv AND a.salt = b.salt
       |    AND a.media_id < b.media_id),
       |fp AS (SELECT id_a, id_b, frame_id,
       |    CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |  FROM cand WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming)""".stripMargin

  import graft.QuerySpec.withOracle

  val specs: Seq[QuerySpec] = Seq(
    // DuckDB lacks substring over BLOB; slicing the full hex string is
    // byte-equivalent (2 hex chars per byte).
    withOracle("mm_media_stats", mediaStats,
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substring(hex(encode(text)), 1, 16) AS head_hex
        |FROM documents ORDER BY media_id""".stripMargin),
    withOracle("mm_frame_sample", frameSample,
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS payload_hex,
        |    CAST(octet_length(encode(text)) // 4 AS INT) AS frame_len
        |  FROM documents)
        |SELECT media_id, CAST(f.i AS BIGINT) AS frame_id,
        |  CAST(frame_len AS BIGINT) AS frame_bytes,
        |  substring(payload_hex, frame_len * 2 * CAST(f.i AS INT) + 1, 8) AS frame_head_hex
        |FROM m, (SELECT UNNEST(generate_series(0, 3)) AS i) f
        |ORDER BY media_id, frame_id""".stripMargin),
    // The oracle never sees PNG bytes: it re-derives the pixel grid from
    // the text hex by the same `pix[p] = byte[p mod n]` rule the encoder
    // used, then replays the 2x2 integer box filter. Spark's side runs
    // ImageIO decode → downsample → PNG re-encode → decode (roundtrip_ok).
    withOracle("mm_resize", resizeQuery,
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n FROM documents),
        |pix AS (SELECT media_id, CAST(p AS INT) AS p,
        |    CASE WHEN n = 0 THEN 0
        |      ELSE (concat('0x', substr(h, 2*CAST(p % n AS INT)+1, 2)))::INT
        |    END AS v
        |  FROM m, UNNEST(generate_series(0, 255)) AS g(p)),
        |blk AS (SELECT media_id, ((p//16)//2)*8 + (p%16)//2 AS q,
        |    CAST(SUM(v) // 4 AS INT) AS r
        |  FROM pix GROUP BY 1, 2),
        |agg AS (SELECT media_id, CAST(SUM(r) AS BIGINT) AS resized_sum,
        |    string_agg(CASE WHEN q < 8 THEN printf('%02X', r) END, '' ORDER BY q) AS head_hex
        |  FROM blk GROUP BY media_id)
        |SELECT m.media_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST(8 AS INT) AS resized_w, CAST(8 AS INT) AS resized_h,
        |  agg.resized_sum, agg.head_hex AS resized_head_hex,
        |  CAST(TRUE AS BOOLEAN) AS roundtrip_ok
        |FROM m JOIN agg USING (media_id) ORDER BY media_id""".stripMargin),
    // Full differential oracle over the real decode path: the pixel rule
    // is replayed from the text hex, bucket means in double narrowed to
    // REAL, norm as the same left-assoc double fold Spark runs. Complete
    // 32-pixel buckets always (256/8), so no COALESCE needed.
    withOracle("mm_feature_extract", featuresQuery,
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n FROM documents),
        |pix AS (SELECT media_id, CAST(p AS INT) AS p,
        |    CASE WHEN n = 0 THEN 0
        |      ELSE (concat('0x', substr(h, 2*CAST(p % n AS INT)+1, 2)))::INT
        |    END AS v
        |  FROM m, UNNEST(generate_series(0, 255)) AS g(p)),
        |f AS (SELECT media_id, p // 32 AS i,
        |    CAST(CAST(SUM(v) AS DOUBLE) / 32 AS REAL) AS f
        |  FROM pix GROUP BY 1, 2),
        |wide AS (SELECT media_id,
        |    MAX(CASE WHEN i=0 THEN f END) AS f0, MAX(CASE WHEN i=1 THEN f END) AS f1,
        |    MAX(CASE WHEN i=2 THEN f END) AS f2, MAX(CASE WHEN i=3 THEN f END) AS f3,
        |    MAX(CASE WHEN i=4 THEN f END) AS f4, MAX(CASE WHEN i=5 THEN f END) AS f5,
        |    MAX(CASE WHEN i=6 THEN f END) AS f6, MAX(CASE WHEN i=7 THEN f END) AS f7
        |  FROM f GROUP BY media_id)
        |SELECT media_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  f0, f1, f2, f3, f4, f5, f6, f7,
        |  sqrt(CAST(f0 AS DOUBLE)*CAST(f0 AS DOUBLE) + CAST(f1 AS DOUBLE)*CAST(f1 AS DOUBLE)
        |    + CAST(f2 AS DOUBLE)*CAST(f2 AS DOUBLE) + CAST(f3 AS DOUBLE)*CAST(f3 AS DOUBLE)
        |    + CAST(f4 AS DOUBLE)*CAST(f4 AS DOUBLE) + CAST(f5 AS DOUBLE)*CAST(f5 AS DOUBLE)
        |    + CAST(f6 AS DOUBLE)*CAST(f6 AS DOUBLE) + CAST(f7 AS DOUBLE)*CAST(f7 AS DOUBLE)) AS feat_norm
        |FROM wide ORDER BY media_id""".stripMargin),
    // Audio twin of the image oracles: the sample rule is replayed from
    // the text hex ((v - 128) * 256), never from WAV bytes; RMS is exact
    // integer sum-of-squares narrowed to double (< 2^53), zero crossings
    // via lag, peak via max(abs). Spark's side runs a real RIFF
    // encode→decode through javax.sound before the same math.
    withOracle("mm_audio_features", audioFeaturesQuery,
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n FROM documents),
        |pix AS (SELECT media_id, CAST(p AS INT) AS i,
        |    CASE WHEN n = 0 THEN 0
        |      ELSE (concat('0x', substr(h, 2*CAST(p % n AS INT)+1, 2)))::INT
        |    END AS v
        |  FROM m, UNNEST(generate_series(0, 255)) AS g(p)),
        |s AS (SELECT media_id, i, (v - 128) * 256 AS s FROM pix),
        |zc AS (SELECT media_id,
        |    SUM(CASE WHEN ps IS NOT NULL AND ((s >= 0) <> (ps >= 0))
        |      THEN 1 ELSE 0 END) AS zero_crossings
        |  FROM (SELECT media_id, i, s,
        |      lag(s) OVER (PARTITION BY media_id ORDER BY i) AS ps FROM s)
        |  GROUP BY media_id),
        |agg AS (SELECT media_id,
        |    sqrt(CAST(SUM(CAST(s AS BIGINT) * s) AS DOUBLE) / 256) AS rms,
        |    MAX(abs(s)) AS peak
        |  FROM s GROUP BY media_id)
        |SELECT m.media_id, CAST(16000 AS INT) AS sample_rate,
        |  CAST(256 AS BIGINT) AS n_samples, agg.rms,
        |  CAST(zc.zero_crossings AS BIGINT) AS zero_crossings,
        |  CAST(agg.peak AS INT) AS peak
        |FROM m JOIN agg USING (media_id) JOIN zc USING (media_id)
        |ORDER BY media_id""".stripMargin),
    // The aHash + band join replayed from the pixel rule: same blk CTE as
    // mm_resize, integer mean threshold, bit q as a signed power of two
    // (q=63 is MIN_LONG — a shifted literal would overflow), bands by
    // arithmetic shift + mask (identical to Spark's shiftright + AND).
    withOracle("mm_phash_neardup", phashNearDup,
      s"""$phashOracleCtes
        |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming
        |ORDER BY id_a, id_b""".stripMargin),
    // The dedup decision over the same replayed hash + band join: group
    // the qualifying pairs by their higher id, keeper = min lower id.
    withOracle("mm_phash_dedup", phashDedup,
      s"""$phashOracleCtes,
        |dup AS (SELECT id_b, MIN(id_a) AS dup_of FROM cand
        |  WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming GROUP BY id_b)
        |SELECT ph.media_id,
        |  COALESCE(dup.dup_of, ph.media_id) AS keeper,
        |  CAST(CASE WHEN dup.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
        |FROM ph LEFT JOIN dup ON dup.id_b = ph.media_id
        |ORDER BY media_id""".stripMargin),
    // Audio twin of the phash pair: the banded energy fingerprint replayed
    // from the sample rule, then the SAME band/salt/candidate SQL text.
    withOracle("mm_audio_neardup", audioNearDup,
      s"""$audioHashOracleCtes
        |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming
        |ORDER BY id_a, id_b""".stripMargin),
    withOracle("mm_audio_dedup", audioDedup,
      s"""$audioHashOracleCtes,
        |dup AS (SELECT id_b, MIN(id_a) AS dup_of FROM cand
        |  WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming GROUP BY id_b)
        |SELECT ph.media_id,
        |  COALESCE(dup.dup_of, ph.media_id) AS keeper,
        |  CAST(CASE WHEN dup.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
        |FROM ph LEFT JOIN dup ON dup.id_b = ph.media_id
        |ORDER BY media_id""".stripMargin),
    // Each modality's rollup wraps ITS standalone dedup oracle in a
    // scoped subquery-WITH (CTE names stay local), so the funnel replay
    // is literally the three dedup replays plus a count.
    withOracle("mm_dedup_funnel", dedupFunnel,
      s"""SELECT 'audio' AS modality, n_assets, n_dups,
         |  n_assets - n_dups AS n_survivors FROM (
         |  $audioHashOracleCtes,
         |  dup AS (SELECT id_b, MIN(id_a) AS dup_of FROM cand
         |    WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming GROUP BY id_b)
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_assets,
         |    CAST(SUM(CASE WHEN dup.dup_of IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_dups
         |  FROM ph LEFT JOIN dup ON dup.id_b = ph.media_id)
         |UNION ALL
         |SELECT 'image' AS modality, n_assets, n_dups,
         |  n_assets - n_dups AS n_survivors FROM (
         |  $phashOracleCtes,
         |  dup AS (SELECT id_b, MIN(id_a) AS dup_of FROM cand
         |    WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming GROUP BY id_b)
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_assets,
         |    CAST(SUM(CASE WHEN dup.dup_of IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_dups
         |  FROM ph LEFT JOIN dup ON dup.id_b = ph.media_id)
         |UNION ALL
         |SELECT 'video' AS modality, n_assets, n_dups,
         |  n_assets - n_dups AS n_survivors FROM (
         |  $videoHashOracleCtes,
         |  votes AS (SELECT id_a, id_b FROM fp
         |    GROUP BY 1, 2 HAVING COUNT(*) >= $VideoVoteMin),
         |  dup AS (SELECT id_b, MIN(id_a) AS dup_of FROM votes GROUP BY id_b),
         |  ids AS (SELECT DISTINCT media_id FROM fh)
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_assets,
         |    CAST(SUM(CASE WHEN dup.dup_of IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_dups
         |  FROM ids LEFT JOIN dup ON dup.id_b = ids.media_id)
         |ORDER BY modality""".stripMargin),
    // Joint pair decision: the image dedup's replayed hash+band CTEs next
    // to the text tier's shared exact-Jaccard CTE (disjoint CTE names),
    // keep_pair = neither modality marked it duplicate.
    withOracle("mm_pair_dedup", pairDedup,
      s"""$phashOracleCtes,
         |${Dedup.jaccardPairsCte},
         |imgdup AS (SELECT id_b, MIN(id_a) AS dup_of FROM cand
         |  WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming GROUP BY id_b),
         |txtdup AS (SELECT doc_b, MIN(doc_a) AS dup_of FROM jp GROUP BY doc_b)
         |SELECT d.doc_id AS pair_id,
         |  COALESCE(i.dup_of, d.doc_id) AS image_keeper,
         |  CAST(CASE WHEN i.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS image_is_dup,
         |  COALESCE(t.dup_of, d.doc_id) AS text_keeper,
         |  CAST(CASE WHEN t.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS text_is_dup,
         |  CAST(CASE WHEN i.dup_of IS NULL AND t.dup_of IS NULL
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep_pair
         |FROM documents d
         |LEFT JOIN imgdup i ON i.id_b = d.doc_id
         |LEFT JOIN txtdup t ON t.doc_b = d.doc_id
         |ORDER BY pair_id""".stripMargin),
    // Serving replay: the same pixel-rule hash CTEs; the banded candidate
    // scheme is pigeonhole-exact at this radius, so the oracle verifies
    // the direct cross-split hamming join (the unused band CTEs inline
    // away).
    withOracle("stream_mm_serve", streamMmServeQuery,
      s"""$phashOracleCtes,
         |q AS (SELECT media_id, phash FROM ph
         |  WHERE substr(md5(CAST(media_id AS VARCHAR)), 1, 1) = '0'),
         |tr AS (SELECT media_id, phash FROM ph
         |  WHERE substr(md5(CAST(media_id AS VARCHAR)), 1, 1) <> '0')
         |SELECT q.media_id AS query_media, tr.media_id AS match_media,
         |  CAST(bit_count(xor(q.phash, tr.phash)) AS BIGINT) AS hamming
         |FROM q JOIN tr ON bit_count(xor(q.phash, tr.phash)) <= $PhashMaxHamming
         |ORDER BY query_media, match_media""".stripMargin),
    // The forget verb replayed as one predicate on the match side.
    withOracle("mm_serve_deleted", mmServeDeletedQuery,
      s"""$phashOracleCtes,
         |q AS (SELECT media_id, phash FROM ph
         |  WHERE substr(md5(CAST(media_id AS VARCHAR)), 1, 1) = '0'),
         |tr AS (SELECT media_id, phash FROM ph
         |  WHERE substr(md5(CAST(media_id AS VARCHAR)), 1, 1) <> '0')
         |SELECT q.media_id AS query_media, tr.media_id AS match_media,
         |  CAST(bit_count(xor(q.phash, tr.phash)) AS BIGINT) AS hamming
         |FROM q JOIN tr ON bit_count(xor(q.phash, tr.phash)) <= $PhashMaxHamming
         |WHERE tr.media_id % 5 <> 2
         |ORDER BY query_media, match_media""".stripMargin),
    // Rebuild-on-survivors served through the atomic alias ≡ the
    // tombstone-filtered serve — mm_serve_deleted's replay verbatim.
    withOracle("mm_serve_cutover", mmServeCutoverQuery,
      s"""$phashOracleCtes,
         |q AS (SELECT media_id, phash FROM ph
         |  WHERE substr(md5(CAST(media_id AS VARCHAR)), 1, 1) = '0'),
         |tr AS (SELECT media_id, phash FROM ph
         |  WHERE substr(md5(CAST(media_id AS VARCHAR)), 1, 1) <> '0')
         |SELECT q.media_id AS query_media, tr.media_id AS match_media,
         |  CAST(bit_count(xor(q.phash, tr.phash)) AS BIGINT) AS hamming
         |FROM q JOIN tr ON bit_count(xor(q.phash, tr.phash)) <= $PhashMaxHamming
         |WHERE tr.media_id % 5 <> 2
         |ORDER BY query_media, match_media""".stripMargin),
    // The snapshot replayed as the slice-0 id cut on the match side —
    // note NO tombstone predicate: slice-0 assets deleted later still
    // match (time travel, not filtering).
    withOracle("mm_serve_asof", mmServeAsOfQuery,
      s"""$phashOracleCtes,
         |q AS (SELECT media_id, phash FROM ph
         |  WHERE substr(md5(CAST(media_id AS VARCHAR)), 1, 1) = '0'),
         |tr AS (SELECT media_id, phash FROM ph
         |  WHERE substr(md5(CAST(media_id AS VARCHAR)), 1, 1) <> '0')
         |SELECT q.media_id AS query_media, tr.media_id AS match_media,
         |  CAST(bit_count(xor(q.phash, tr.phash)) AS BIGINT) AS hamming
         |FROM q JOIN tr ON bit_count(xor(q.phash, tr.phash)) <= $PhashMaxHamming
         |WHERE tr.media_id <= (SELECT MAX(doc_id) // 2 FROM documents)
         |ORDER BY query_media, match_media""".stripMargin),
    // Media leakage split: the phash pair stream feeding the
    // recursive-CTE components, split by component md5 — the
    // text/sim_leakage_split oracle at asset grain.
    withOracle("mm_leakage_split", mmLeakageSplit,
      s"""${phashOracleCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |np AS (SELECT id_a AS a, id_b AS b FROM cand
         |       WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming),
         |${graft.operators.Dedup.ccCompCteSql("ph", "media_id")}
         |${graft.operators.Dedup.componentSplitSql("media_id")}""".stripMargin),
    // Media index manifest: slice accounting plus the md5 train split
    // and the %5 forget rule — the dedup_index_stats oracle at asset
    // grain (one fingerprint per doc, so the counts replay without
    // touching pixel bytes).
    withOracle("mm_index_stats",
      graft.streaming.StreamingDedup.mediaIndexStatsQuery,
      """SELECT CAST(1 AS BIGINT) AS n_data_slices,
        |  CAST(1 AS BIGINT) AS n_tombstone_slices,
        |  CAST(SUM(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
        |    AND NOT doc_id % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_live_assets,
        |  CAST(SUM(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
        |    AND doc_id % 5 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead_ids
        |FROM documents""".stripMargin),
    // The incremental lifecycle lands on the batch tier's survivor set
    // (monotone slices ⇒ first-seen-wins == min-lower-id), so its oracle
    // is mm_phash_dedup's replay filtered to the keepers.
    withOracle("mm_incremental_dedup", mmIncrementalDedup,
      s"""$phashOracleCtes,
         |dup AS (SELECT id_b FROM cand
         |  WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming GROUP BY id_b)
         |SELECT ph.media_id FROM ph LEFT JOIN dup ON dup.id_b = ph.media_id
         |WHERE dup.id_b IS NULL ORDER BY media_id""".stripMargin),
    // Cross-modality AV join: each side's standalone oracle scoped in a
    // subquery-WITH (the mm_dedup_funnel convention — CTE names collide
    // across the two prefixes), joined on the id pair.
    withOracle("mm_video_audio_neardup", videoAudioNearDup,
      s"""SELECT a.id_a, a.id_b, a.audio_hamming, v.n_frames_match,
         |  v.video_sum_hamming
         |FROM (
         |  $audioHashOracleCtes
         |  SELECT id_a, id_b,
         |    CAST(bit_count(xor(ha, hb)) AS BIGINT) AS audio_hamming
         |  FROM cand WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming) a
         |JOIN (
         |  $videoHashOracleCtes
         |  SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_frames_match,
         |    CAST(SUM(hamming) AS BIGINT) AS video_sum_hamming
         |  FROM fp GROUP BY 1, 2 HAVING COUNT(*) >= $VideoVoteMin) v
         |ON a.id_a = v.id_a AND a.id_b = v.id_b
         |ORDER BY a.id_a, a.id_b""".stripMargin),
    // Video: frame-vote aggregation over the per-frame qualifying pairs.
    withOracle("mm_video_neardup", videoNearDup,
      s"""$videoHashOracleCtes
        |SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_frames_match,
        |  CAST(SUM(hamming) AS BIGINT) AS sum_hamming
        |FROM fp GROUP BY 1, 2 HAVING COUNT(*) >= $VideoVoteMin
        |ORDER BY id_a, id_b""".stripMargin),
    withOracle("mm_video_dedup", videoDedup,
      s"""$videoHashOracleCtes,
        |votes AS (SELECT id_a, id_b FROM fp
        |  GROUP BY 1, 2 HAVING COUNT(*) >= $VideoVoteMin),
        |dup AS (SELECT id_b, MIN(id_a) AS dup_of FROM votes GROUP BY id_b),
        |ids AS (SELECT DISTINCT media_id FROM fh)
        |SELECT ids.media_id,
        |  COALESCE(dup.dup_of, ids.media_id) AS keeper,
        |  CAST(CASE WHEN dup.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
        |FROM ids LEFT JOIN dup ON dup.id_b = ids.media_id
        |ORDER BY media_id""".stripMargin),
    // Video twin: per-frame pixel sums and first pixel, frame f = p//64
    // over the same derived pixel grid — Spark's side recovers the frames
    // from a real multi-frame GIF via the container's image directory.
    withOracle("mm_video_frames", videoFramesQuery,
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n FROM documents),
        |pix AS (SELECT media_id, CAST(p AS INT) AS p,
        |    CASE WHEN n = 0 THEN 0
        |      ELSE (concat('0x', substr(h, 2*CAST(p % n AS INT)+1, 2)))::INT
        |    END AS v
        |  FROM m, UNNEST(generate_series(0, 255)) AS g(p))
        |SELECT media_id, CAST(p // 64 AS BIGINT) AS frame_id,
        |  CAST(8 AS INT) AS frame_w, CAST(8 AS INT) AS frame_h,
        |  CAST(SUM(v) AS BIGINT) AS frame_sum,
        |  CAST(MAX(CASE WHEN p % 64 = 0 THEN v END) AS INT) AS head_px
        |FROM pix GROUP BY media_id, p // 64
        |ORDER BY media_id, frame_id""".stripMargin))
}
