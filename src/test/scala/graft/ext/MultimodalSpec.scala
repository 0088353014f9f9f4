package graft.ext

import graft.GraftSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

class MultimodalSpec extends GraftSpec {
  import spark.implicits._

  private lazy val assets = Seq("hello world", "hello world", "other bytes")
    .toDF("text").select(Multimodal.syntheticPayload($"text").as("payload"))

  test("payload is BinaryType; content hash collapses identical bytes") {
    assert(assets.schema("payload").dataType == BinaryType)
    val n = assets
      .agg(count_distinct(Multimodal.contentHash($"payload"))).collect()(0).getLong(0)
    assert(n == 2L)
  }

  test("frames: slices reassemble to the payload; count = ceil(bytes/size)") {
    val r = assets.limit(1)
      .select($"payload", Multimodal.frames($"payload", 4).as("fr"))
      .select(size($"fr").as("n"),
        (concat($"fr".getItem(0), $"fr".getItem(1), $"fr".getItem(2))
          === $"payload").as("same"))
      .collect()(0)
    assert(r.getInt(0) == 3) // 11 bytes / 4 → 3 frames
    assert(r.getBoolean(1))
  }

  test("BinaryDecoder seam: stub impl appends a dims-wide feature column") {
    val dec: BinaryDecoder = new StubDecoder(dims = 6) // through the trait
    val out = dec.decode(assets, "payload", "features")
    assert(out.columns.toSeq == Seq("payload", "features"))
    val feats = out.select($"features").as[Seq[Double]].collect()
    assert(feats.forall(_.length == dec.dims))
    // decoding must stay shuffle-free: per-row expression, single stage
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("decodeStub: deterministic fixed-width features in [0,1)") {
    val f1 = assets.select(StubDecoder.decodeStub($"payload", 4).as("f"))
      .as[Seq[Double]].collect()
    val f2 = assets.select(StubDecoder.decodeStub($"payload", 4).as("f"))
      .as[Seq[Double]].collect()
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall(v => v.length == 4 && v.forall(x => x >= 0.0 && x < 1.0)))
    assert(f1(0).toSeq == f1(1).toSeq) // same bytes → same features
    assert(f1(0).toSeq != f1(2).toSeq)
  }

  // ---- real codecs ----

  private def pgm(w: Int, h: Int, px: Seq[Int],
      header: String = ""): Array[Byte] = {
    val head = if (header.nonEmpty) header else s"P5\n$w $h\n255\n"
    head.getBytes("US-ASCII") ++ px.map(_.toByte).toArray
  }

  test("MediaCodec.parseNetpbm: golden P5, comments, P6 channels, " +
    "malformed inputs") {
    // 2x2 grayscale, pixels 10 20 30 40 → sum 100, sqsum 3000
    val s = MediaCodec.parseNetpbm(pgm(2, 2, Seq(10, 20, 30, 40))).get
    assert((s.width, s.height, s.channels) == ((2, 2, 1)))
    assert(s.sums.toSeq == Seq(100L) && s.sqSums.toSeq == Seq(3000L))
    // high-bit pixels stay unsigned: 255 → 255, not -1
    val hb = MediaCodec.parseNetpbm(pgm(1, 1, Seq(255))).get
    assert(hb.sums.toSeq == Seq(255L) && hb.sqSums.toSeq == Seq(65025L))
    // header comments and exotic whitespace parse (the Netpbm grammar)
    val commented = MediaCodec.parseNetpbm(pgm(2, 1, Seq(5, 7),
      header = "P5 # written by graft\n# another\n 2\t1 \n255\n")).get
    assert((commented.width, commented.height) == ((2, 1)))
    assert(commented.sums.toSeq == Seq(12L))
    // P6: interleaved RGB → per-channel moments
    val rgb = MediaCodec.parseNetpbm(
      ("P6\n2 1\n255\n".getBytes("US-ASCII") ++
        Array[Byte](10, 20, 30, 1, 2, 3))).get
    assert(rgb.channels == 3)
    assert(rgb.sums.toSeq == Seq(11L, 22L, 33L))
    // malformed: wrong magic, truncated raster, maxval > 255, zero dim
    assert(MediaCodec.parseNetpbm("Q5\n1 1\n255\n".getBytes ++
      Array[Byte](1)).isEmpty)
    assert(MediaCodec.parseNetpbm(pgm(2, 2, Seq(10, 20, 30))).isEmpty)
    assert(MediaCodec.parseNetpbm("P5\n1 1\n65535\n".getBytes ++
      Array[Byte](1, 1)).isEmpty)
    assert(MediaCodec.parseNetpbm("P5\n0 1\n255\n".getBytes).isEmpty)
    assert(MediaCodec.parseNetpbm(null).isEmpty)
    // trailing padding after the raster is tolerated
    assert(MediaCodec.parseNetpbm(pgm(1, 1, Seq(9, 0, 0))).get
      .sums.toSeq == Seq(9L))
    // a header whose maxval is NOT followed by whitespace must be None —
    // skipping an arbitrary byte would shift the raster read one byte
    // late and return wrong moments instead of failing (review finding)
    assert(MediaCodec.parseNetpbm(
      "P5\n1 1\n255".getBytes("US-ASCII") ++ Array[Byte](0x41, 0x42)).isEmpty)
  }

  private def wav(rate: Int, channels: Int, samples: Seq[Int],
      extraChunk: Boolean = false): Array[Byte] = {
    val bb = java.nio.ByteBuffer
      .allocate(64 + 2 * samples.size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(t: String): Unit = t.foreach(c => bb.put(c.toByte))
    val dataLen = 2 * samples.size
    val junkLen = if (extraChunk) 3 else 0
    val junkPad = junkLen & 1
    tag("RIFF"); bb.putInt(4 + 24 + (8 + junkLen + junkPad) *
      (if (extraChunk) 1 else 0) + 8 + dataLen)
    tag("WAVE")
    tag("fmt "); bb.putInt(16)
    bb.putShort(1.toShort); bb.putShort(channels.toShort)
    bb.putInt(rate); bb.putInt(rate * channels * 2)
    bb.putShort((channels * 2).toShort); bb.putShort(16.toShort)
    if (extraChunk) { tag("LIST"); bb.putInt(junkLen)
      bb.put(Array[Byte](1, 2, 3, 0)) } // odd size + word-align pad
    tag("data"); bb.putInt(dataLen)
    samples.foreach(v => bb.putShort(v.toShort))
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  test("MediaCodec.parseWav: golden PCM16, chunk walking, malformed " +
    "inputs") {
    val s = MediaCodec.parseWav(wav(8000, 1, Seq(100, -200, 300))).get
    assert((s.sampleRate, s.channels, s.nSamples) == ((8000, 1, 3L)))
    assert(s.sampleSum == 200L && s.sampleSqSum == 140000L)
    // an interleaved LIST chunk (odd size, word-aligned) is walked over
    val walked = MediaCodec.parseWav(
      wav(44100, 2, Seq(1, -1, 2, -2), extraChunk = true)).get
    assert((walked.sampleRate, walked.channels) == ((44100, 2)))
    assert(walked.nSamples == 4L && walked.sampleSum == 0L)
    // full-scale negative stays signed: -32768
    val fs = MediaCodec.parseWav(wav(8000, 1, Seq(-32768))).get
    assert(fs.sampleSum == -32768L && fs.sampleSqSum == 1073741824L)
    // malformed: bad magic, float format, 8-bit, overrunning data chunk
    assert(MediaCodec.parseWav("RIFX????WAVE".getBytes).isEmpty)
    val nonPcm = wav(8000, 1, Seq(1)); nonPcm(20) = 3 // IEEE float tag
    assert(MediaCodec.parseWav(nonPcm).isEmpty)
    val eightBit = wav(8000, 1, Seq(1)); eightBit(34) = 8
    assert(MediaCodec.parseWav(eightBit).isEmpty)
    val overrun = wav(8000, 1, Seq(1, 2)); overrun(44) = 99 // data size lies
    assert(MediaCodec.parseWav(java.util.Arrays.copyOf(overrun, 40)).isEmpty)
    assert(MediaCodec.parseWav(null).isEmpty)
  }

  test("NetpbmDecoder/WavDecoder: the real codecs ride the batch-decode " +
    "core — features exact, corrupt rows NULL, no shuffle, batch " +
    "boundaries invisible") {
    val rows = Seq(
      (1L, pgm(2, 2, Seq(10, 20, 30, 40))),
      (2L, "not an image".getBytes),
      (3L, pgm(1, 2, Seq(255, 1))),
      (4L, pgm(3, 1, Seq(0, 0, 7))),
      (5L, pgm(2, 1, Seq(8, 8)))
    ).toDF("id", "payload")
    // batchSize 2 with 5 rows: batch boundaries must not show in output
    val dec = new NetpbmDecoder(channels = 1, batchSize = 2)
    val out = dec.decode(rows, "payload", "f")
    assert(out.columns.toSeq == Seq("id", "payload", "f"))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val got = out.select($"id", $"f").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(got(1L).get == Seq(2.0, 2.0, 100.0, 3000.0))
    assert(got(2L).isEmpty, "corrupt payload must be NULL, not a failure")
    assert(got(3L).get == Seq(1.0, 2.0, 256.0, 65026.0))
    assert(got(4L).get == Seq(3.0, 1.0, 7.0, 49.0))
    assert(got(5L).get == Seq(2.0, 1.0, 16.0, 128.0))

    // a P6 payload through a P5 decoder is NULL, not misread
    val p6 = Seq((9L, ("P6\n1 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3)))).toDF("id", "payload")
    assert(dec.decode(p6, "payload", "f").select($"f").head().isNullAt(0))

    val wavs = Seq(
      (1L, wav(8000, 1, Seq(100, -200, 300))),
      (2L, Array[Byte](1, 2, 3))
    ).toDF("id", "payload")
    val wout = new WavDecoder(batchSize = 1).decode(wavs, "payload", "f")
      .select($"id", $"f").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(wout(1L).get == Seq(8000.0, 1.0, 3.0, 200.0, 140000.0))
    assert(wout(2L).isEmpty)
  }

  /** Well-formed 24-bit BMP builder; pad bytes are POISONED (0xEE) so a
    * parser that sums them fails the golden moments. */
  private def bmp(w: Int, h: Int, pxBGR: Seq[Int], topDown: Boolean = false,
      bits: Int = 24, comp: Int = 0, dataOff: Int = 54): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val buf = java.nio.ByteBuffer.allocate(dataOff + stride * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(dataOff + stride * h)
    buf.putInt(0).putInt(dataOff)
    buf.putInt(40).putInt(w).putInt(if (topDown) -h else h)
    buf.putShort(1).putShort(bits.toShort)
    buf.putInt(comp).putInt(stride * h)
    buf.putInt(0).putInt(0).putInt(0).putInt(0)
    while (buf.position() < dataOff) buf.put(0.toByte)
    var y = 0
    var i = 0
    while (y < h) {
      var b = 0
      while (b < w * 3) { buf.put(pxBGR(i).toByte); i += 1; b += 1 }
      while (b < stride) { buf.put(0xEE.toByte); b += 1 }
      y += 1
    }
    buf.array()
  }

  test("MediaCodec.parseBmp: golden moments exclude row padding; " +
    "top-down and offset gaps parse; malformed inputs are None") {
    // 2×2, stride 8 → 2 poisoned pad bytes per row
    val px = Seq(10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val s = MediaCodec.parseBmp(bmp(2, 2, px)).get
    assert((s.width, s.height, s.topDown) == ((2, 2, false)))
    assert(s.sums.toSeq == Seq(10L + 40 + 70 + 100, 20L + 50 + 80 + 110,
      30L + 60 + 90 + 120))
    assert(s.sqSums.toSeq == Seq(
      100L + 1600 + 4900 + 10000, 400L + 2500 + 6400 + 12100,
      900L + 3600 + 8100 + 14400))
    // w = 4: stride 12, zero padding — exact fit
    val fit = MediaCodec.parseBmp(bmp(4, 1, Seq.fill(12)(255))).get
    assert(fit.sums.toSeq == Seq(1020L, 1020L, 1020L))
    // top-down (negative height): same moments, flag set
    val td = MediaCodec.parseBmp(bmp(2, 2, px, topDown = true)).get
    assert(td.topDown && td.sums.toSeq == s.sums.toSeq)
    // a gap between headers and raster (dataOff > 54) is honored
    val gap = MediaCodec.parseBmp(bmp(1, 1, Seq(1, 2, 3), dataOff = 70)).get
    assert(gap.sums.toSeq == Seq(1L, 2L, 3L))
    // malformed: magic, depth, compression, truncation, null
    val bad = bmp(1, 1, Seq(1, 2, 3)); bad(0) = 'X'.toByte
    assert(MediaCodec.parseBmp(bad).isEmpty)
    assert(MediaCodec.parseBmp(bmp(1, 1, Seq(1, 2, 3), bits = 8)).isEmpty)
    assert(MediaCodec.parseBmp(bmp(1, 1, Seq(1, 2, 3), comp = 1)).isEmpty)
    val whole = bmp(2, 2, px)
    assert(MediaCodec.parseBmp(
      java.util.Arrays.copyOf(whole, whole.length - 1)).isEmpty)
    assert(MediaCodec.parseBmp(null).isEmpty)
  }

  test("BmpDecoder rides the batch-decode core: exact features, corrupt " +
    "rows NULL, no shuffle") {
    val rows = Seq(
      (1L, bmp(2, 1, Seq(10, 20, 30, 40, 50, 60))),
      (2L, "not a bitmap".getBytes),
      (3L, bmp(1, 2, Seq(0, 0, 7, 8, 0, 0), topDown = true))
    ).toDF("id", "payload")
    val out = new BmpDecoder(batchSize = 2).decode(rows, "payload", "f")
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val got = out.select($"id", $"f").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(got(1L).get == Seq(2.0, 1.0, 50.0, 1700.0, 70.0, 2900.0,
      90.0, 4500.0))
    assert(got(2L).isEmpty, "corrupt payload must be NULL, not a failure")
    assert(got(3L).get == Seq(1.0, 2.0, 8.0, 64.0, 0.0, 0.0, 7.0, 49.0))
  }

  test("resizeNetpbmNearest: hand-checked pixel map, canonical re-encode, " +
    "comments dropped, P6 preserved, failures None") {
    // 4×2 P5 with a header comment; pixels 0..7
    val src = ("P5 #c\n4\n# mid\n2\n255\n".getBytes("US-ASCII") ++
      Array.tabulate[Byte](8)(_.toByte))
    val out = MediaCodec.resizeNetpbmNearest(src, 2, 2).get
    // nearest map for 2×2 from 4×2: sx ∈ {0, 2}, sy ∈ {0, 1}
    assert(new String(out.take(10), "US-ASCII") == "P5\n2 2\n255"
      && out(10) == '\n'.toByte)
    assert(out.drop(11).toSeq == Seq[Byte](0, 2, 4, 6))
    // upscale replicates: 1×1 → 2×1 repeats the single pixel
    val one = "P5\n1 1\n9\n".getBytes("US-ASCII") :+ 7.toByte
    val up = MediaCodec.resizeNetpbmNearest(one, 2, 1).get
    assert(new String(up.take(9), "US-ASCII") == "P5\n2 1\n9\n")
    assert(up.drop(9).toSeq == Seq[Byte](7, 7)) // maxval preserved too
    // P6 stays P6 with triplets moved together
    val p6 = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4, 5, 6)
    val p6out = MediaCodec.resizeNetpbmNearest(p6, 1, 1).get
    assert(new String(p6out.take(11), "US-ASCII") == "P6\n1 1\n255\n")
    assert(p6out.drop(11).toSeq == Seq[Byte](1, 2, 3))
    // truncated raster / bad target dims → None
    assert(MediaCodec.resizeNetpbmNearest(src.dropRight(1), 2, 2).isEmpty)
    assert(MediaCodec.resizeNetpbmNearest(src, 0, 2).isEmpty)
  }

  test("Multimodal.resizeNetpbm: the payload→payload batch core — " +
    "resize → decode composes, corrupt assets become NULL thumbs") {
    val good = ("P5\n4 2\n255\n".getBytes("US-ASCII") ++
      Array.tabulate[Byte](8)(_.toByte))
    val df = Seq((1L, good), (2L, Array[Byte](9, 9))).toDF("id", "payload")
    val resized = Multimodal.resizeNetpbm(df, "payload", "thumb", 2, 2,
      batchSize = 1)
    val feats = new NetpbmDecoder(channels = 1)
      .decode(resized, "thumb", "f")
      .select($"id", $"thumb", $"f").collect()
      .map(r => r.getLong(0) ->
        ((Option(r.getAs[Array[Byte]](1)), Option(r.getSeq[Double](2)))))
      .toMap
    assert(feats(1L)._2.get == Seq(2.0, 2.0, 12.0, 56.0)) // 0+2+4+6, 4+16+36
    assert(feats(2L)._1.isEmpty && feats(2L)._2.isEmpty)
  }

  test("MediaCodec.parseNetpbmFrames: golden container, skip stride, " +
      "all-or-nothing on malformed frames") {
    // 3 frames: 2x1 [10,20] | 1x2 [5,7] | 1x1 [9]
    val container = pgm(2, 1, Seq(10, 20)) ++ pgm(1, 2, Seq(5, 7)) ++
      pgm(1, 1, Seq(9))
    val every2 = MediaCodec.parseNetpbmFrames(container, every = 2).get
    assert(every2.map(f => (f.idx, f.width, f.height, f.sum, f.sqSum)) ==
      Seq((0, 2, 1, 30L, 500L), (2, 1, 1, 9L, 81L)))
    // every=1 decodes all; the skipped middle frame's moments are real
    val all = MediaCodec.parseNetpbmFrames(container, every = 1).get
    assert(all.size == 3 &&
      (all(1).idx, all(1).sum, all(1).sqSum) == ((1, 12L, 74L)))
    // all-or-nothing: trailing garbage, an embedded P6, truncation,
    // empty container, non-positive stride
    assert(MediaCodec.parseNetpbmFrames(
      container ++ Array[Byte]('x'), 2).isEmpty)
    assert(MediaCodec.parseNetpbmFrames(
      pgm(1, 1, Seq(9)) ++ "P6\n1 1\n255\nabc".getBytes("US-ASCII"),
      1).isEmpty)
    assert(MediaCodec.parseNetpbmFrames(
      container.dropRight(1), 1).isEmpty)
    assert(MediaCodec.parseNetpbmFrames(Array.emptyByteArray, 1).isEmpty)
    assert(MediaCodec.parseNetpbmFrames(container, 0).isEmpty)
  }

  test("Multimodal.sampleNetpbmFrames: exploded per-frame rows through " +
      "the batch core; undecodable container yields zero rows") {
    val good = pgm(2, 1, Seq(10, 20)) ++ pgm(1, 2, Seq(5, 7)) ++
      pgm(1, 1, Seq(9))
    val df = Seq(
      (1L, good),
      (2L, "not a container".getBytes("US-ASCII"))
    ).toDF("id", "payload")
    val out = Multimodal.sampleNetpbmFrames(df, "payload", every = 2)
    val rows = out.select($"id", $"frame_idx", $"frame_width",
        $"frame_height", $"frame_sum", $"frame_sq_sum")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq.sortBy(r => (r._1, r._2))
    assert(rows == Seq(
      (1L, 0L, 2L, 1L, 30L, 500L),
      (1L, 2L, 1L, 1L, 9L, 81L))) // id 2: no rows, quarantine by anti-join
    // narrow plan: no exchange anywhere in the sample
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
