package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Multimodal
import graft.operators.Multimodal.{Blob, ImageIoCodec}

/** The REAL image-codec path (round 7, VERDICT r6 item 9): pure-JDK
  * ImageIO decode behind the same mapPartitions seams the stubs mark —
  * exercised on in-memory PNGs so the pipeline is production-real
  * without external fixtures. The gate queries keep the byte-stub (the
  * oracle must reproduce the arithmetic); this spec pins the codec.
  */
class MultimodalCodecSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  /** Deterministic w×h RGB PNG: pixel (x,y) = rgb(x·17 % 256, y·31 %
    * 256, (x+y)·7 % 256), lossless so decode is exact on any JDK.
    */
  private def png(w: Int, h: Int, shift: Int = 0): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 17 + shift) % 256
      val g = (y * 31 + shift) % 256
      val b = ((x + y) * 7 + shift) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("ImageIoCodec decodes a PNG to exact BT.601 integer luma") {
    val bytes = png(2, 2)
    val p = ImageIoCodec.decode(bytes).get
    assert(p.width === 2 && p.height === 2)
    // luma(x,y) = (299·r + 587·g + 114·b + 500) / 1000, PNG lossless
    def luma(x: Int, y: Int): Int = {
      val r = x * 17 % 256; val g = y * 31 % 256; val b = (x + y) * 7 % 256
      (299 * r + 587 * g + 114 * b + 500) / 1000
    }
    assert(p.gray.toSeq === Seq(
      luma(0, 0), luma(1, 0), luma(0, 1), luma(1, 1)))
    // non-image bytes are None, not a crash
    assert(ImageIoCodec.decode("not an image".getBytes("UTF-8")).isEmpty)
    assert(ImageIoCodec.decode(Array.emptyByteArray).isEmpty)
  }

  test("resizeImage: exact integer area means over real pixels; " +
      "undecodable blobs resize empty") {
    import spark.implicits._
    val bytes = png(16, 16)
    val blobs = Seq(
      Blob(1L, bytes, "image/png"),
      Blob(2L, "garbage".getBytes("UTF-8"), "image/png")).toDS()
    val got = Multimodal.resizeImage(blobs, outW = 4, outH = 4)
      .collect().map(r => r.id -> r.resized).toMap
    // null content must surface as an empty row, not an NPE (review r7)
    val nullBlob = Multimodal.resizeImage(
      Seq(Blob(9L, null, "image/png")).toDS()).head()
    assert(nullBlob.byte_len === 0L && nullBlob.resized === "")
    assert(Multimodal.aHashImage(
      Seq(Blob(9L, null, "image/png")).toDS()).head().phash === 0L)
    // reference: same integer area-average computed directly in the test
    val p = ImageIoCodec.decode(bytes).get
    val sum = new Array[Long](16); val cnt = new Array[Long](16)
    for (y <- 0 until 16; x <- 0 until 16) {
      val k = (y * 4 / 16) * 4 + (x * 4 / 16)
      sum(k) += p.gray(y * 16 + x); cnt(k) += 1
    }
    val want = (0 until 16).map(k => (sum(k) / cnt(k)).toInt).mkString(",")
    assert(got(1L) === want)
    assert(got(2L) === "")
  }

  test("aHashImage + phashPairs: real PNG near-dups pair, distinct don't") {
    import spark.implicits._
    // shift=0 vs shift=2: nearly identical gradients (small luma delta
    // per pixel) → tiny hamming; shift=128 inverts half the ramp →
    // large hamming
    val blobs = Seq(
      Blob(1L, png(32, 32, shift = 0), "image/png"),
      Blob(2L, png(32, 32, shift = 2), "image/png"),
      Blob(3L, png(32, 32, shift = 128), "image/png")).toDS()
    val hashes = Multimodal.aHashImage(blobs).toDF()
    val hs = hashes.collect().map(r =>
      r.getAs[Long]("id") -> r.getAs[Long]("phash")).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(2L)) <= 3,
      s"near-identical images hamming ${ham(hs(1L), hs(2L))}")
    assert(ham(hs(1L), hs(3L)) > 3,
      s"distinct images hamming ${ham(hs(1L), hs(3L))}")
    // the banded pair join finds exactly the near pair at maxDist 4
    // (64 bits / 5 bands fails the divisibility require → use 3)
    val pairs = Multimodal.phashPairs(hashes, bits = 64, maxDist = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("pHash128Image + phash128Pairs: wide-hash near-dups pair, banding " +
      "is recall-complete vs brute-force hamming") {
    import spark.implicits._
    // wrap-free gray corpus (values <= 201): the shared png() ramp wraps
    // mod 256 under a +2 shift, which legitimately flips dHash gradient
    // bits at the wrap seams — here a uniform +2 luma shift preserves
    // every mean comparison EXACTLY, so near-dup hamming must be 0
    def gpng(mul: Int, shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        val v = (x * mul + y * (mul + 12) + (x / 4) * (y / 4) * 7) % 200 +
          shift
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val blobs = Seq(
      Blob(1L, gpng(13, 0), "image/png"),
      Blob(2L, gpng(13, 2), "image/png"),
      Blob(3L, gpng(31, 0), "image/png"),
      Blob(4L, "garbage".getBytes("UTF-8"), "image/png")).toDS()
    val hashes = Multimodal.pHash128Image(blobs).toDF()
    val hs = hashes.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[Long]("hash_hi"), r.getAs[Long]("hash_lo"))).toMap
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
    // undecodable → (0, 0) convention
    assert(hs(4L) == (0L, 0L))
    // the aHash word must equal the 64-bit operator's output (shared rule)
    val a64 = Multimodal.aHashImage(blobs).toDF().collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("phash")).toMap
    hs.foreach { case (id, (_, lo)) => assert(lo == a64(id), s"id $id") }
    assert(ham(hs(1L), hs(2L)) <= 3,
      s"near-identical images hamming ${ham(hs(1L), hs(2L))}")
    assert(ham(hs(1L), hs(3L)) > 3,
      s"distinct images hamming ${ham(hs(1L), hs(3L))}")
    val pairs = Multimodal.phash128Pairs(hashes, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = hs.keys.toSeq.sorted.combinations(2).collect {
      case Seq(x, y) if ham(hs(x), hs(y)) <= 3 => (x, y)
    }.toSet
    assert(pairs == brute, s"banded $pairs vs brute $brute")
    // the guard fires when every hash is identical (degenerate corpus)
    val flat = (1 to 40).map(i =>
      (i.toLong, 0L, 7L, 7L)).toDF("id", "byte_len", "hash_hi", "hash_lo")
    intercept[graft.operators.CandidateMassExceededException] {
      Multimodal.phash128Pairs(flat, maxDist = 3,
        maxCandidatePairs = Some(100L))
    }
  }

  /** Deterministic RIFF/WAVE PCM bytes: `chans` interleaved channels of
    * the given 16-bit samples (every channel carries the same values).
    */
  private def wav16(samples: Seq[Int], chans: Int = 1,
      rate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * chans * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(chans.toShort).putInt(rate)
      .putInt(rate * chans * 2).putShort((chans * 2).toShort).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => (0 until chans).foreach(_ => bb.putShort(s.toShort)))
    bb.array()
  }

  test("WavPcmCodec: exact 16-bit decode, stereo mono-mix, 8-bit " +
      "centering, malformed -> None") {
    import Multimodal.WavPcmCodec
    val mono = WavPcmCodec.decode(wav16(Seq(0, 100, -100, 32767))).get
    assert(mono.sampleRate === 8000 && mono.channels === 1)
    assert(mono.mono.toSeq === Seq(0, 100, -100, 32767))
    // stereo with identical channels mixes to the same values
    val st = WavPcmCodec.decode(wav16(Seq(5, -7), chans = 2)).get
    assert(st.channels === 2 && st.mono.toSeq === Seq(5, -7))
    // 8-bit: unsigned bytes centered to 16-bit range ((v-128)*256)
    val dataLen = 3
    val bb = java.nio.ByteBuffer.allocate(44 + 3 + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 4)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000).putShort(1)
      .putShort(8)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
      .put(128.toByte).put(255.toByte).put(0.toByte).put(0.toByte) // pad
    val eight = WavPcmCodec.decode(bb.array()).get
    assert(eight.mono.toSeq === Seq(0, 127 * 256, -128 * 256))
    // malformed: truncated data chunk, non-PCM format, garbage
    assert(WavPcmCodec.decode(wav16(Seq(1, 2, 3)).dropRight(2)).isEmpty)
    val nonPcm = wav16(Seq(1))
    nonPcm(20) = 3 // IEEE float format tag
    assert(WavPcmCodec.decode(nonPcm).isEmpty)
    assert(WavPcmCodec.decode("not audio".getBytes("UTF-8")).isEmpty)
    assert(WavPcmCodec.decode(null).isEmpty)
  }

  test("vadSegmentsAudio: real RMS frames through the shared " +
      "segmentation; undecodable blobs yield no segments") {
    import spark.implicits._
    // 3 frames of 4 samples: loud / silent / loud → two 1-frame
    // segments. RMS(frame0) = isqrt((4·1000²)/4) = 1000.
    val samples = Seq.fill(4)(1000) ++ Seq.fill(4)(0) ++ Seq.fill(4)(-800)
    val blobs = Seq(
      Blob(1L, wav16(samples), "audio/wav"),
      Blob(2L, "junk".getBytes("UTF-8"), "audio/wav")).toDS()
    val got = Multimodal.vadSegmentsAudio(blobs, frameSamples = 4,
        silenceBelow = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    assert(got === Seq((1L, 1L, 0L, 0L, 1L), (1L, 2L, 2L, 2L, 1L)))
    // a trailing partial frame gets RMS over its own length
    val partial = Seq.fill(4)(0) ++ Seq.fill(2)(600)
    val seg = Multimodal.vadSegmentsAudio(
      Seq(Blob(3L, wav16(partial), "audio/wav")).toDS(),
      frameSamples = 4, silenceBelow = 100L).collect()
    assert(seg.length === 1 &&
      seg(0).getLong(2) === 1L && seg(0).getLong(3) === 1L)
  }
}
