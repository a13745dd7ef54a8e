package graft.dev

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.operators.Multimodal.Blob

/** Dev main: the REAL-codec phash scale measurement VERDICT r7 asked
  * for ("the production claim — that the real ImageIoCodec decode
  * gives an image-driven hash distribution — is plausible but
  * unmeasured at scale"). The gate's q155 runs [[Multimodal.aHash]]
  * over text BYTES (the stub corpus), whose byte histograms collide
  * toward all-pairs — an artifact of hashing prose, not images. This
  * main synthesizes `n` deterministic PNGs (generated INSIDE the
  * executors — the driver never holds the corpus), runs the full
  * production pipeline — ImageIO decode → integer area-average resize
  * → BT.601 aHash → pigeonhole-banded pair join with the candidate-
  * mass guard — and prints one JSON line with the timing and the
  * bucket-mass profile, so the "does the image-driven distribution
  * keep bucket pair mass linear?" question gets a measured answer.
  *
  * Corpus shape: each image is a two-axis gradient PLUS an 8×8 grid of
  * md5-derived per-block luma offsets — the TEXTURE that makes real
  * photos' aHashes diverse. (The first cut used bare gradients: their
  * aHash collapses to a handful of direction-quadrant patterns and the
  * candidate-mass guard fires at 50k images with 125M bucket pairs —
  * the measured confirmation that LOW-TEXTURE corpora are the
  * degenerate case for mean-threshold hashes, guard working as
  * designed.) Every 100th image re-renders its predecessor with a +2
  * luma shift — a ~1% planted near-dup rate, the real-corpus profile;
  * aHash is mean-relative so the shift keeps hamming ~0.
  *
  * Usage: runMain graft.dev.PhashScale [n] (default 500000 — the
  * sf10-equivalent 100× of sf0.1's 5000 documents)
  */
object PhashScale {
  /** md5-derived gradient coefficients for image i. */
  private def coef(i: Long, k: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"img$i|$k".getBytes("UTF-8"))
    d(0) & 0xff
  }

  /** Deterministic 32×32 PNG for image id: near-dups re-render their
    * predecessor's gradient with a +`shift` luma offset.
    */
  private[dev] def png(id: Long, textured: Boolean = true): Array[Byte] = {
    val (base, shift) = if (id % 100 == 1 && id > 0) (id - 1, 2) else (id, 0)
    val (a, b) = (coef(base, 0), coef(base, 1))
    // textured=false is the LOW-TEXTURE CONTROL (bare gradients): their
    // hashes collapse to direction-quadrant patterns and the candidate-
    // mass guard must fire — the r8 degeneracy, now a runnable mode
    val block =
      if (textured) Array.tabulate(64)(k => coef(base, 10 + k))
      else Array.fill(64)(40)
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 32) {
        // clamp the near-dup shift instead of adding it under the mod:
        // residues 254/255 would wrap to 0/1 and flip hash bits, making
        // the planted +2-luma dups undercount (review r8)
        val v = math.min(255,
          (block((y / 4) * 8 + x / 4) * 3 + x * a / 16 + y * b / 16) % 256
            + shift)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    // width mode: 64 = BT.601 aHash (the r8 measurement), 128 = the
    // r9 aHash‖dHash wide hash with 32-bit bands (PERF_r8 §3's knob)
    val width = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    require(width == 64 || width == 128, s"width $width not in {64, 128}")
    val textured = args.drop(2).headOption.forall(_ != "lowtexture")
    val spark = graft.Sessions.getOrCreate()
    implicit val enc = Encoders.product[Blob]

    val blobs = spark.range(n).repartition(256)
      .mapPartitions(_.map(i => Blob(i, png(i, textured), "image/png")))
    val t0 = System.nanoTime()
    // hash once, consumed by the pair join twice (both sides) and the
    // mass profile — the pipeline a real deployment persists anyway
    val hashes =
      (if (width == 64) Multimodal.aHashImage(blobs).toDF()
       else Multimodal.pHash128Image(blobs).toDF())
        .localCheckpoint(true)
    val tHash = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val pairs =
      if (width == 64) Multimodal.phashPairs(hashes, bits = 64, maxDist = 3,
        maxCandidatePairs = Some(100L * n))
      else Multimodal.phash128Pairs(hashes, maxDist = 3,
        maxCandidatePairs = Some(100L * n))
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t1) / 1e9
    // bucket-mass profile of the 4 pigeonhole bands: Σ df·(df−1)/2 —
    // the quantity the guard bounds and the linearity question is about
    val bandBits = width / 4
    val mask = if (bandBits == 32) lit((1L << 32) - 1) else lit(0xffffL)
    val posting = hashes.select(col("id"),
        explode(array((0 until 4).map { bn =>
          val off = bn * bandBits
          val word =
            if (width == 64) col("phash")
            else if (off < 64) col("hash_lo") else col("hash_hi")
          struct(lit(bn).as("band"),
            shiftrightunsigned(word, off % 64).bitwiseAND(mask).as("bval"))
        }: _*)).as("b"))
      .select(col("b.band"), col("b.bval"))
    val mass = posting.groupBy("band", "bval")
      .agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1)).as("m2"),
        max(col("df")).as("maxdf"),
        count(lit(1)).as("buckets"))
      .head()
    println(s"""{"metric":"phash_real_codec","n":$n,"width":$width,""" +
      s""""hash_sec":${math.round(tHash * 1000) / 1000.0},""" +
      s""""pairs_sec":${math.round(tPairs * 1000) / 1000.0},""" +
      s""""n_pairs":$nPairs,"bucket_pair_mass":${mass.getLong(0) / 2},""" +
      s""""max_bucket_df":${mass.getLong(1)},""" +
      s""""n_buckets":${mass.getLong(2)}}""")
    spark.stop()
  }
}
