package graft.dev

import org.apache.spark.sql.functions._

/** Dev main: the q19 scale question, measured on the PRODUCTION-shaped
  * corpus (VERDICT r8 #1). The reference never holds a saturated random
  * code set: barcodes are MINTED under the distance-≥3 trigger
  * (warehouse/identifier/triggers/barcode-distance-check.sql:33-46), so
  * the corpus-wide "any pair within distance ≤ 2?" answer is EMPTY by
  * construction. The claim to verify with a number: on that minted
  * shape, the part-pigeonhole all-pairs join
  * ([[graft.operators.Barcodes.similarityJoinParts]]) is linear-bound at
  * 1.5M codes (the sf10 cardinality that times out the 2-char slice
  * plan), and the candidate-mass guard still fail-fasts on the
  * saturated control (q19's 6-hex-char shape).
  *
  * Modes (one JVM per measurement, PERF_r4 §1 discipline):
  *   mint <n>      — run mintWithStats(seed) for n codes against an
  *                   empty set; prints mint wall + stats; writes the
  *                   minted (id, code) corpus to <out>.
  *   pairs <dir>   — all-pairs similarityJoinParts(maxDist=2) over a
  *                   minted corpus written by `mint`; prints wall +
  *                   pair count (expected 0: minted ⇒ distance ≥ 3).
  *   control <n>   — n SATURATED 6-hex-char codes (q19's sf10 shape);
  *                   expects the guard to throw; prints time-to-fail.
  *
  * Usage: runMain graft.dev.BarcodeScale mint 1500000 /dev/shm/minted
  *        runMain graft.dev.BarcodeScale pairs /dev/shm/minted
  *        runMain graft.dev.BarcodeScale control 1500000
  */
object BarcodeScale {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark = graft.Sessions.getOrCreate()
    import graft.operators.Barcodes

    mode match {
      case "mint" =>
        val n = args(1).toInt
        val out = args(2)
        // random uuid-suffix minting saturates near ~16^8/6421 ≈ 670k
        // 8-hex codes (radius-2 balls cover the space; rejection rate
        // → 1), so the 1.5M sf10 corpus must mint longer codes — the
        // guard hint's own escape hatch (not a distance-≥3 cardinality
        // cap: the Hamming bound is 16^8/121 ≈ 35.5M)
        val codeLen = if (args.length > 3) args(3).toInt else 8
        val empty = spark.range(0).selectExpr("cast(null as string) as code")
        val t0 = System.nanoTime()
        val (minted, stats) = Barcodes.mintWithStats(
          spark, empty, n, maxDist = 2, seed = Some(19L), codeLen = codeLen)
        val got = minted.count()
        val sec = (System.nanoTime() - t0) / 1e9
        minted.select(monotonically_increasing_id().as("id"), col("code"))
          .repartition(32).write.mode("overwrite").parquet(out)
        println(f"""{"mode":"mint","n":$n,"code_len":$codeLen,""" +
          f""""minted":$got,"sec":$sec%.1f,""" +
          s""""rounds":${stats.rounds},"tried":${stats.candidatesTried},""" +
          s""""intra_rejects":${stats.intraBatchRejects}}""")

      case "pairs" =>
        val dir = args(1)
        val codes = spark.read.parquet(dir)
        val t0 = System.nanoTime()
        val pairs = Barcodes.similarityJoinParts(codes, maxDist = 2,
          maxCandidatePairs = Some(2000000000L)).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"mode":"pairs","n":${codes.count()},""" +
          f""""pairs":$pairs,"sec":$sec%.1f}""")

      case "control" =>
        val n = args(1).toLong
        // q19's saturated shape: 6-hex-char codes (16^6 space, 100×
        // oversubscribed at 1.5M) — the TRUE answer is ~2e8 pairs, so
        // the only correct behavior is a fast guard failure
        val codes = spark.range(n).select(col("id"),
          substring(md5(col("id").cast("string")), 1, 6).as("code"))
        val t0 = System.nanoTime()
        val res = try {
          Barcodes.similarityJoinParts(codes, maxDist = 2,
            maxCandidatePairs = Some(2000000000L)).count()
          "NO GUARD (completed)"
        } catch {
          case e: IllegalStateException =>
            s"guard fired: ${e.getMessage.take(120)}"
        }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"mode":"control","n":$n,"sec":$sec%.1f,""" +
          s""""outcome":${'"'}$res${'"'}}""")
    }
    spark.stop()
  }
}
