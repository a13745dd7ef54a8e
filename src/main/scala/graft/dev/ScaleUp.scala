package graft.dev

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev main: synthesize a larger scale factor from the driver's sf0.1
  * testdata by unioning `factor` key-shifted replicas of each table —
  * the scale-regression harness the round-5 verdict asked for ("run the
  * full gate once at sf1: the one test that exposes any remaining
  * quadratic or single-task plan that sf0.1 hides").
  *
  * Replica i shifts every key column by i × (max(key)+1) so FK
  * relationships stay intact WITHIN a replica and cardinality ratios
  * are preserved. Two columns get deterministic perturbations so the
  * blow-up does not manufacture pathological duplicate clusters the
  * real distribution doesn't have:
  *   - documents.text: every token of replica i > 0 gains the replica
  *     tag `q<i>z` (n_chars updated to keep n_chars == len(text)).
  *     The renaming is BIJECTIVE per replica, so all within-replica
  *     similarity structure (shingle sets, exact-substring spans,
  *     near-dup pairs) is preserved verbatim while cross-replica
  *     similarity drops to zero — the corpus duplication RATE stays
  *     constant as the factor grows and near-dup answer mass scales
  *     exactly ×factor. (History: round 5 appended ONE suffix token,
  *     which de-duplicated exact clones but left cross-replica Jaccard
  *     ≈ 0.99 — the ×100 run then measured the near-dup family's own
  *     factor²-answer mass, not the operators; see PERF_r6.md.)
  *   - embeddings.embedding[0] += i/1000 — otherwise ANN/kNN queries
  *     would see 10-way cosine ties.
  *
  * Usage: runMain graft.dev.ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    val spark = graft.Sessions.getOrCreate()

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1

    /** Union `factor` replicas, shifting each key column by its stride. */
    def replicate(df: DataFrame, keys: Seq[String],
        tweak: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val strides = keys.map(k => k -> stride(df, k)).toMap
      (0 until factor).map { i =>
        val shifted = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * strides(k))))
        tweak(shifted, i)
      }.reduce(_ unionByName _)
    }

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    // dimension tables pass through unchanged — their cardinality is
    // fixed by the schema (5 regions, 25 nations), not the scale factor
    write(t("region"), "region", 1)
    write(t("nation"), "nation", 1)

    // entity names embed the entity number (TPC-H style) — regenerate
    // them from the SHIFTED key, otherwise every replica carries an
    // identical name and name-keyed operators (edit-distance joins,
    // linkage blocks) see manufactured factor-way clone families the
    // real distribution doesn't have (measured: q273 at 100x spent
    // 640s emitting the 225M clone pairs this manufactures)
    def renumber(prefix: String, key: String)(d: DataFrame, i: Int) =
      if (i == 0) d
      else d.withColumn(s"${prefix.toLowerCase.take(1)}_name",
        concat(lit(s"$prefix#"), lpad(col(key).cast("string"), 9, "0")))
    write(replicate(t("customer"), Seq("c_custkey"),
      tweak = renumber("Customer", "c_custkey")), "customer", 4)
    write(replicate(t("supplier"), Seq("s_suppkey"),
      tweak = renumber("Supplier", "s_suppkey")), "supplier", 2)
    write(replicate(t("part"), Seq("p_partkey")), "part", 4)
    write(replicate(t("orders"), Seq("o_orderkey", "o_custkey")), "orders", 8)
    write(replicate(t("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem", 32)
    write(replicate(t("events"), Seq("event_id", "user_id")), "events", 8)
    write(replicate(t("documents"), Seq("doc_id"),
      tweak = (d, i) =>
        if (i == 0) d
        else d.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"$$1q${i}z"))
          .withColumn("n_chars", length(col("text")).cast("long"))),
      "documents", 8)
    write(replicate(t("embeddings"), Seq("vec_id"),
      tweak = (d, i) =>
        if (i == 0) d
        else d.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            when(j === 0, x + lit(i / 1000.0f)).otherwise(x)))),
      "embeddings", 4)

    // synthesis-version marker: Bench --sf1 resynthesizes when the
    // on-disk data predates the current perturbation scheme (v2 = the
    // bijective per-replica token renaming)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dst/_scaleup.json"),
      s"""{"version":2,"factor":$factor,"src":"$src"}""".getBytes("UTF-8"))
    println(s"[scaleup] wrote $dst at ${factor}x of $src")
    spark.stop()
  }
}
