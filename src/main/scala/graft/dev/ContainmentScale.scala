package graft.dev

import org.apache.spark.sql.functions._

/** Dev main: sf10 recall of the stratified containment path against
  * PLANTED ground truth — the q283 question answered without the exact
  * reference join (which is the very thing the stratified path exists
  * to replace: exact extended-ratio containment over the 625k-doc
  * superset corpus measured >3000 s at 100×, vs q282's ~37 s).
  *
  * Ground truth: q282's corpus concatenates every 4 consecutive docs
  * into a superset (id 2e9 + group), so each of the N member→superset
  * pairs is a true containment at c_ab = 1.0 (word n-grams of a member
  * appear contiguously in its superset) and size ratio ~4 — inside the
  * maxRatio-8 domain. Planted recall = found / N. This is a recall
  * FLOOR probe, not the full confusion audit (that's q283 at sf0.1,
  * where the exact side fits: recall 0.9956, 0 spurious).
  *
  * Usage: runMain graft.dev.ContainmentScale [sfDir=dev/sf10]
  */
object ContainmentScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("dev/sf10")
    val spark = graft.Sessions.getOrCreate()

    val corpus = graft.SparkEntry.containmentCorpus(spark, dir)
    val t0 = System.nanoTime()
    val pairs = graft.operators.Dedup.stratifiedContainmentPairs(
        corpus, "doc_id", "text", n = 3, threshold = 0.7,
        numHashes = 64, maxRatio = 8.0,
        maxCandidatePairs = Some(2000000000L))
      .localCheckpoint(true)
    val nPairs = pairs.count()
    val sec = (System.nanoTime() - t0) / 1e9
    // planted member→superset pairs: id_a member, id_b = 2e9 + id_a/4
    val planted = pairs.filter(col("id_b") === lit(2000000000L) +
      floor(col("id_a") / 4).cast("long")).count()
    // the denominator is the IN-DOMAIN planted set: a tiny member inside
    // a huge superset (distinct-shingle ratio > maxRatio) is excluded by
    // the operator's contract, not missed by its banding
    val sz = corpus.select(col("doc_id"),
      size(graft.operators.Dedup.wordShingleHashes(col("text"), 3))
        .cast("long").as("_z"))
    val members = sz.filter(col("doc_id") < 1000000000L)
      .select(col("doc_id"), (lit(2000000000L) +
        floor(col("doc_id") / 4).cast("long")).as("_sup"), col("_z"))
    val inDomain = members.join(sz.select(col("doc_id").as("_sup"),
        col("_z").as("_zs")), Seq("_sup"))
      .filter(greatest(col("_z"), col("_zs")).cast("double") <=
        lit(8.0) * least(col("_z"), col("_zs")).cast("double"))
      .count()
    val nMembers = members.count()
    // guard the ratio: inDomain == 0 would print NaN/Infinity, which is
    // not valid JSON and breaks downstream `grep '"metric"'` collection
    val recall = if (inDomain == 0) 0.0 else planted.toDouble / inDomain
    println(f"""{"metric":"stratified_containment_sf10","sec":$sec%.1f,""" +
      f""""n_pairs":$nPairs,"planted_found":$planted,""" +
      f""""planted_total":$nMembers,"planted_in_domain":$inDomain,""" +
      f""""planted_recall_in_domain":$recall%.6f}""")
    spark.stop()
  }
}
