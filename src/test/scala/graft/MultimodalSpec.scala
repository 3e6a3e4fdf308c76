package graft

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  test("media table: binary payloads with cycling kinds and byte-exact sizes") {
    val rows = Multimodal.mediaStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(Multimodal.kinds.contains(r.getString(1)))
      assert(r.getLong(2) > 0)
      assert(r.getString(3).length == 16) // 8 bytes -> 16 hex chars
    }
  }

  test("frame sample: 4 equal frames per media item") {
    val rows = Multimodal.frameSample(spark, sf).collect()
    val byMedia = rows.groupBy(_.getLong(0))
    byMedia.values.foreach { frames =>
      assert(frames.length == Multimodal.NumFrames)
      assert(frames.map(_.getLong(2)).distinct.length == 1) // equal length
    }
  }

  test("feature extract: real PNG decode, deterministic, norm matches") {
    val feats = Multimodal.extractFeatures(spark, sf).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.width == Multimodal.ImgW && f.height == Multimodal.ImgH)
      assert(f.feat.length == 8)
      val norm = math.sqrt(f.feat.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - f.feat_norm) < 1e-9)
      assert(f.feat.forall(v => v >= 0f && v < 256f))
    }
    // determinism: second run identical (PNG encode+decode is exact)
    val again = Multimodal.extractFeatures(spark, sf).collect()
    assert(feats.sortBy(_.media_id).map(_.feat.toSeq).toSeq ==
      again.sortBy(_.media_id).map(_.feat.toSeq).toSeq)
  }

  import graft.operators.ImageCodec

  test("png codec: known 2x2 image encodes to a real PNG and decodes exactly") {
    val px = Array(0, 255, 128, 7)
    val png = ImageCodec.encodeGrayPng(px, 2, 2)
    // PNG signature: 0x89 'P' 'N' 'G'
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val (w, h, back) = ImageCodec.decodeGray(png)
    assert(w == 2 && h == 2)
    assert(back.toSeq == px.toSeq)
  }

  test("png codec: downsample2x2 is the integer box filter") {
    // 4x2 image -> 2x1; blocks ((10,20),(30,40)) -> 25, ((0,255),(1,2)) -> 64
    val (rw, rh, r) = ImageCodec.downsample2x2(Array(10, 20, 0, 255, 30, 40, 1, 2), 4, 2)
    assert(rw == 2 && rh == 1)
    assert(r.toSeq == Seq((10 + 20 + 30 + 40) / 4, (0 + 255 + 1 + 2) / 4))
  }

  test("image table: payloads are decodable PNGs carrying the derived pixels") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").limit(5).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val imgs = Multimodal.imageTable(spark, sf).collect().toMap
    docs.foreach { case (id, text) =>
      val (w, h, px) = ImageCodec.decodeGray(imgs(id))
      assert(w == Multimodal.ImgW && h == Multimodal.ImgH)
      val expected = Multimodal.pixelsOf(text.getBytes("UTF-8"))
      assert(px.toSeq == expected.toSeq)
    }
  }

  import graft.operators.AudioCodec

  test("wav codec: known 4-sample clip encodes to real RIFF and decodes exactly") {
    val pcm = Array[Short](0, 32767, -32768, -1)
    val wav = AudioCodec.encodePcm16Wav(pcm, 16000)
    // RIFF container magic: "RIFF" .... "WAVE"
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val (rate, back) = AudioCodec.decodePcm16Wav(wav)
    assert(rate == 16000)
    assert(back.toSeq == pcm.toSeq)
  }

  test("audio features: real WAV decode, rule-exact samples, stable stats") {
    val feats = Multimodal.audioFeatures(spark, sf).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.sample_rate == Multimodal.AudioRate)
      assert(f.n_samples == Multimodal.AudioSamples.toLong)
      assert(f.rms >= 0 && f.peak >= 0 && f.peak <= 32768)
    }
    // spot-check one clip against the sample rule end to end
    val doc = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").limit(1).collect().head
    val wav = Multimodal.audioTable(spark, sf).collect().toMap.apply(doc.getLong(0))
    val (_, pcm) = AudioCodec.decodePcm16Wav(wav)
    assert(pcm.toSeq == Multimodal.samplesOf(doc.getString(1).getBytes("UTF-8")).toSeq)
  }

  import graft.operators.VideoCodec

  test("gif codec: multi-frame container encodes real GIF, frames decode exactly") {
    val f0 = Array.tabulate(4)(i => i * 60)        // 2x2
    val f1 = Array(255, 0, 128, 7)
    val gif = VideoCodec.encodeGifFrames(Seq(f0, f1), 2, 2)
    // GIF magic: "GIF89a" or "GIF87a"
    assert(new String(gif.slice(0, 3), "US-ASCII") == "GIF")
    val (w, h, frames) = VideoCodec.decodeGifFrames(gif)
    assert(w == 2 && h == 2 && frames.length == 2)
    assert(frames(0).toSeq == f0.toSeq && frames(1).toSeq == f1.toSeq)
  }

  test("video table: containers carry 4 derived frames per document") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").limit(3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vids = Multimodal.videoTable(spark, sf).collect().toMap
    docs.foreach { case (id, text) =>
      val (w, h, frames) = VideoCodec.decodeGifFrames(vids(id))
      assert(w == Multimodal.FrameW && h == Multimodal.FrameH)
      assert(frames.length == Multimodal.VideoFrames)
      val expect = Multimodal.pixelsOf(text.getBytes("UTF-8"))
        .grouped(Multimodal.FrameW * Multimodal.FrameH).toSeq
      frames.zip(expect).foreach { case (got, want) =>
        assert(got.toSeq == want.toSeq)
      }
    }
  }

  test("resize: decode -> box filter -> re-encode round-trips exactly") {
    val rows = Multimodal.resize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.resized_w == Multimodal.ImgW / 2 && r.resized_h == Multimodal.ImgH / 2)
      assert(r.roundtrip_ok, s"PNG re-encode of media ${r.media_id} not lossless")
    }
  }

  test("aHash: flat image hashes to 0; a bright block sets exactly its bits") {
    val flat = Array.fill(256)(100)
    assert(Multimodal.aHash64(flat, 16, 16) == 0L) // no block exceeds the mean
    // brighten the top-left 2x2 source block -> downsampled block 0 only
    val oneHot = flat.clone()
    oneHot(0) = 255; oneHot(1) = 255; oneHot(16) = 255; oneHot(17) = 255
    assert(Multimodal.aHash64(oneHot, 16, 16) == 1L)
  }

  test("phash band join: finds all pairs within hamming 3, none beyond") {
    import spark.implicits._
    val h0 = 0x0123456789abcdefL
    val hashes = Seq(
      (0L, h0),
      (1L, h0),               // hamming 0
      (2L, h0 ^ 0x7L),        // hamming 3 (one band)
      (3L, h0 ^ 0x0001000100010001L), // hamming 4, spread across all 4 bands
      (4L, h0 ^ 0x8000000000000000L)  // hamming 1, sign bit (band 3)
    ).toDF("media_id", "phash")
    val pairs = Multimodal.phashPairsOn(hashes)
      .orderBy($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every pair among {0,1,2,4} qualifies (mutual hamming <= 4? verify):
    // d(0,1)=0 d(0,2)=3 d(0,4)=1 d(1,2)=3 d(1,4)=1 d(2,4)=4 -> excluded
    assert(pairs.toSeq == Seq(
      (0L, 1L, 0L), (0L, 2L, 3L), (0L, 4L, 1L),
      (1L, 2L, 3L), (1L, 4L, 1L)))
  }

  test("phash near-dup: planted exact text dups land at hamming 0") {
    val out = Multimodal.phashNearDup(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0L && r.getLong(2) <= Multimodal.PhashMaxHamming)
    }
  }

  test("frameHash64: flat frame hashes to 0; one bright pixel sets its bit") {
    val flat = Array.fill(64)(100)
    assert(Multimodal.frameHash64(flat) == 0L)
    val oneHot = flat.clone(); oneHot(7) = 255
    assert(Multimodal.frameHash64(oneHot) == (1L << 7))
  }

  test("video near-dup + dedup: frame votes through the real GIF path") {
    val pairs = Multimodal.videoNearDup(spark, sf).collect()
    assert(pairs.nonEmpty) // planted text dups -> identical clips, 4 frame votes
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val votes = r.getLong(2)
      assert(votes >= Multimodal.VideoVoteMin && votes <= Multimodal.VideoFrames)
      // each voting frame contributes at most the hamming threshold
      assert(r.getLong(3) <= votes * Multimodal.PhashMaxHamming)
    }
    val dedup = Multimodal.videoDedup(spark, sf).collect()
    val byId = dedup.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    pairs.foreach { p =>
      val (keeper, isDup) = byId(p.getLong(1))
      assert(isDup == 1L && keeper <= p.getLong(0))
    }
    dedup.filter(_.getLong(2) == 0L).foreach(r => assert(r.getLong(1) == r.getLong(0)))
  }

  test("audioHash64: silence hashes to 0; a loud block sets exactly its bit") {
    // constant signal: every block's energy equals the mean, no bit set
    val flat = Array.fill[Short](256)(100)
    assert(Multimodal.audioHash64(flat) == 0L)
    // one loud 4-sample block (block 5) -> only bit 5
    val oneHot = flat.clone()
    (20 until 24).foreach(i => oneHot(i) = 30000)
    assert(Multimodal.audioHash64(oneHot) == (1L << 5))
  }

  test("audio near-dup + dedup: real WAV path, shared survivor contract") {
    val pairs = Multimodal.audioNearDup(spark, sf).collect()
    assert(pairs.nonEmpty) // planted text dups -> identical clips, hamming 0
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0L && r.getLong(2) <= Multimodal.PhashMaxHamming)
    }
    val dedup = Multimodal.audioDedup(spark, sf).collect()
    val byId = dedup.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every pair's higher id must be marked dup with keeper <= the lower id
    pairs.foreach { p =>
      val (keeper, isDup) = byId(p.getLong(1))
      assert(isDup == 1L && keeper <= p.getLong(0))
    }
    // non-dups keep themselves
    dedup.filter(_.getLong(2) == 0L).foreach(r => assert(r.getLong(1) == r.getLong(0)))
  }

  test("pair dedup: keep iff BOTH modalities keep; tiers match standalone dedups") {
    val rows = Multimodal.pairDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    // keep_pair is exactly the conjunction of the two tier decisions
    rows.foreach { r =>
      val (imgDup, txtDup, keep) = (r.getLong(2), r.getLong(4), r.getLong(5))
      assert(keep == (if (imgDup == 0L && txtDup == 0L) 1L else 0L))
    }
    // the image tier column IS the standalone image dedup
    val img = Multimodal.phashDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      assert(img(r.getLong(0)) == (r.getLong(1), r.getLong(2)))
    }
    // planted dups exist in both tiers at this SF, so the joint decision
    // actually drops something (non-vacuous)
    assert(rows.exists(_.getLong(5) == 0L))
    assert(rows.exists(_.getLong(5) == 1L))
  }

  test("incremental image dedup: three appends + compaction equal the batch decision") {
    val inc = Multimodal.mmIncrementalDedup(spark, sf).collect()
      .map(_.getLong(0)).toSeq
    val batch = Multimodal.phashDedup(spark, sf).collect()
      .filter(_.getLong(2) == 0L).map(_.getLong(0)).toSeq.sorted
    assert(inc == batch)
    // non-vacuous: the planted dup groups cross the slice cuts, so some
    // asset is deduped against an EARLIER slice's index state
    assert(inc.size < Multimodal.mediaTable(spark, sf).count())
  }

  test("mm serve: streamed queries match exactly the cross-split hamming pairs") {
    val served = Multimodal.streamMmServeQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def hex1(i: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      "%02x".format(d(0)).substring(0, 1)
    }
    val hashes = Multimodal.phashTableOf(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (eval, train) = hashes.partition { case (id, _) => hex1(id) == "0" }
    val expect = (for {
      (q, hq) <- eval
      (t, ht) <- train
      d = java.lang.Long.bitCount(hq ^ ht)
      if d <= Multimodal.PhashMaxHamming
    } yield (q, t, d.toLong)).toSet
    assert(served == expect)
    assert(served.nonEmpty) // planted dups cross the md5 split
  }

  test("media index stats: manifest replays the split and forget rules") {
    def hex1(i: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      "%02x".format(d(0)).substring(0, 1)
    }
    val ids = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0))
    val train = ids.filter(hex1(_) != "0")
    val row = graft.streaming.StreamingDedup
      .mediaIndexStatsQuery(spark, sf).head()
    assert(row.getAs[Long]("n_data_slices") == 1L)
    assert(row.getAs[Long]("n_tombstone_slices") == 1L)
    assert(row.getAs[Long]("n_live_assets") == train.count(_ % 5 != 2).toLong)
    assert(row.getAs[Long]("n_dead_ids") == train.count(_ % 5 == 2).toLong)
  }

  test("media leakage split: component-coherent and pair-safe") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val split = Multimodal.mmLeakageSplit(spark, sf)
    val bySide = split.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(bySide.size == Tables.documents(spark, sf).count())
    // no phash near-dup pair straddles the boundary
    Multimodal.phashNearDup(spark, sf).collect().foreach { r =>
      assert(bySide(r.getLong(0)) == bySide(r.getLong(1)))
    }
    val incoherent = split.groupBy(col("component"))
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(incoherent == 0L)
    assert(bySide.values.toSet == Set("train", "eval"))
  }

  test("serve contract pin: state-read eval fingerprints equal per-batch " +
      "codec fingerprints, so mm_serve_deleted serves identically either way") {
    // The batch lifecycle serves (mm_serve_deleted/cutover/asof) read the
    // eval split's fingerprints from the shared corpus fingerprint state;
    // the streaming serve (stream_mm_serve) fingerprints each ARRIVING
    // micro-batch with the codec kernel. This pin is the contract that
    // makes the two interchangeable: fingerprints are a pure per-row
    // function of the corpus, so the state read IS the per-batch
    // fingerprint pass, row for row — and therefore the lifecycle serves'
    // results are independent of which side computed the hash.
    import org.apache.spark.sql.functions.{col, md5, substring}
    val isEval = substring(md5(col("media_id").cast("string")), 1, 1) === "0"
    val fromState = Multimodal.phashTable(spark, sf).filter(isEval)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val isEvalDoc = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    val fresh = Multimodal.phashTableOf(
        Tables.documents(spark, sf).filter(isEvalDoc))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromState == fresh)
    assert(fresh.nonEmpty)
    // and the delete-lifecycle serve itself is identical when the query
    // side is fingerprinted fresh instead of read from state
    val state = Multimodal.mediaTrainDeletedState(spark, sf)
    val out = graft.TempDirs.scoped("graft_mmsdel_pin_out")
    graft.streaming.StreamingDedup.serveMediaBatch(
      Multimodal.phashTableOf(
        Tables.documents(spark, sf).filter(isEvalDoc)),
      state, out, 0L)
    val freshServe = spark.read.parquet(s"$out/b0")
      .orderBy(col("query_media"), col("match_media"))
      .collect().map(_.toSeq).toSeq
    val stateServe = Multimodal.mmServeDeletedQuery(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(stateServe == freshServe)
  }

  test("video+audio near-dup: exactly the pairs qualifying on BOTH tracks") {
    val av = Multimodal.videoAudioNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val audio = Multimodal.audioNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val video = Multimodal.videoNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(av == audio.intersect(video))
    assert(av.nonEmpty) // planted text dups match on every track
  }
}
