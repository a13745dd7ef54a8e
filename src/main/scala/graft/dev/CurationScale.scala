package graft.dev

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev main: the composed curation DAG (q281's shape — quality gate →
  * jaccardPairsAuto → connected components → survivor stats) at scale,
  * in BOTH routing regimes:
  *
  *   - `natural` — the dev/sf10 documents corpus, where the exact
  *     prefix-filter route fits its candidate budget (the r8-measured
  *     path, 24.4 s);
  *   - `template` — a synthesized boilerplate-header corpus (every doc
  *     shares an 8-token header + carries 32 unique md5 tokens), whose
  *     shared 4-gram puts ~all pairs behind one inverted-index key: the
  *     exact route's mass probe trips the guard and the flow FLIPS TO
  *     THE BANDED LSH ROUTE MID-PIPELINE, which survives because
  *     MinHash signatures are dominated by per-doc unique grams.
  *
  * Usage: runMain graft.dev.CurationScale [template|natural] [n]
  * (n used by template mode only; natural reads dev/sf10).
  */
object CurationScale {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("template")
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(500000L)
    val spark = graft.Sessions.getOrCreate()

    val corpus: DataFrame = mode match {
      case "natural" =>
        spark.read.parquet("dev/sf10/documents.parquet")
          .select(col("doc_id"), col("text"), col("source"))
      case "template" =>
        // boilerplate header shared by EVERY doc + 32 unique tokens:
        // pairwise Jaccard ~ 5/75 (far under 0.6) but every pair shares
        // the header 4-grams — the exact route's degenerate case. Every
        // 100th doc duplicates its predecessor (a ~1% true-dup rate so
        // the survivor stats have signal).
        spark.range(n).select(
          col("id").as("doc_id"),
          concat(lit("hdr1 hdr2 hdr3 hdr4 hdr5 hdr6 hdr7 hdr8 "),
            concat_ws(" ", (0 until 32).map(k =>
              substring(md5(concat_ws("|",
                when(col("id") % 100 === 1, col("id") - 1)
                  .otherwise(col("id")), lit(k))), 1, 12)): _*))
            .as("text"),
          (col("id") % 5).cast("string").as("source"))
    }

    import graft.operators.Dedup
    val t0 = System.nanoTime()
    val q = corpus
      .filter(graft.operators.TextAnalysis.tokenCount(col("text")) >= 10)
      .select(col("doc_id"), col("text"), col("source"))
    val pairs = Dedup.jaccardPairsAuto(q, "doc_id", "text", n = 4,
      threshold = 0.6, maxCandidatePairs = 20000000L)
    val cc = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
    val out = q.join(cc.select(col("id").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("_keep",
        col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"))
      .agg(sum(col("n_docs")), sum(col("n_kept")))
      .head()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"curation_dag","mode":"$mode",""" +
      s""""n_docs":${out.getLong(0)},"n_kept":${out.getLong(1)},""" +
      s""""sec":${math.round(sec * 1000) / 1000.0}}""")
    spark.stop()
  }
}
