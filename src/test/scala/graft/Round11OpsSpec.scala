package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-11 specs: the second optimization round's equivalence pins —
  * the codegen jsonb merge vs the Jackson UDF it replaced, the shared
  * shingle-frame derivations vs their from-raw-text originals, and the
  * single tagged band frame vs the per-plan-group union it fused.
  */
class Round11OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  // ---- jsonb_merge_shallow: codegen expression vs the Jackson UDF ----

  import Round11OpsSpec.jsonbMergeShallowUdf

  /** Canonical-JSON battery: compact serialization, standard escapes —
    * the engine norm (to_json output / stored jsonb text), which is the
    * expression's documented equivalence domain.
    */
  private val mergeCases: Seq[(String, String)] = Seq(
    ("""{"a":1}""", """{"b":2}"""), // disjoint
    ("""{"a":1,"b":{"x":1}}""", """{"b":{"y":2},"c":3}"""), // override nested
    ("""{"a":1}""", """{"a":2}"""), // full override
    ("""{}""", """{"a":1}"""), // empty left
    ("""{"a":1}""", """{}"""), // empty right
    ("""{}""", """{}"""), // both empty
    ("""{"a":[1,2,{"k":"v"}]}""", """{"a":[3]}"""), // array values
    ("""{"a":"x\"y\\z"}""", """{"b":"\n\tA"}"""), // escaped strings
    ("""{"a":null,"b":true}""", """{"a":false}"""), // null/bool literals
    ("""{"a":-1.5,"b":0}""", """{"c":12345678901234}"""), // numbers
    ("""{"k":1,"k":2,"z":9}""", """{"z":0}"""), // dup key: first pos, last val
    ("""{"a":1}""", """[1,2]"""), // right not an object -> right verbatim
    ("""[1]""", """{"a":1}"""), // left not an object -> right
    (""""str"""", """7"""), // neither an object -> right
    ("""{"ключ":"значение"}""", """{"ключ":"б","x":"日本語"}""") // non-ASCII
  )

  test("jsonbMergeShallow expression == Jackson UDF on the canonical battery") {
    import spark.implicits._
    val df = (mergeCases ++
      // SQL-null sides
      Seq((null, """{"a":1}"""), ("""{"a":1}""", null), (null, null)))
      .toDF("a", "b")
    val got = df.select(
        graft.functions.jsonbMergeShallow(col("a"), col("b")).as("m"),
        jsonbMergeShallowUdf(col("a"), col("b")).as("u"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.get(0) == r.get(1),
        s"case $i: expr=${r.get(0)} udf=${r.get(1)}")
    }
  }

  test("jsonbMergeFold == interpreted aggregate-of-UDF fold") {
    import spark.implicits._
    val arrays: Seq[Seq[String]] = Seq(
      Seq("""{"a":1}""", """{"b":2}""", """{"a":3,"c":4}"""),
      Seq("""{"x":1}"""),
      Seq(), // empty -> null accumulator stays null
      Seq(null, """{"a":1}""", null), // null elements skipped like the UDF
      Seq("""{"a":1}""", """[2]""", """{"z":0}"""), // non-object mid-fold
      Seq(null, null) // all-null -> null
    )
    val df = arrays.map(a => Tuple1(a)).toDF("docs")
    val udfFold = aggregate(col("docs"), lit(null).cast("string"),
      (acc, d) => jsonbMergeShallowUdf(acc, d))
    val got = df.select(
        graft.functions.jsonbMergeFold(col("docs")).as("m"),
        udfFold.as("u"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.get(0) == r.get(1),
        s"case $i: fold=${r.get(0)} aggregate=${r.get(1)}")
    }
  }

  test("jsonbMergeShallow key order: a's keys (b's values), then b-only keys") {
    import spark.implicits._
    val df = Seq(("""{"z":1,"a":2,"m":3}""", """{"m":9,"b":8,"z":7}"""))
      .toDF("a", "b")
    val m = df.select(graft.functions.jsonbMergeShallow(col("a"), col("b")))
      .head().getString(0)
    assert(m == """{"z":7,"a":2,"m":9,"b":8}""")
  }

  // ---- shared shingle frame: derived signatures are bit-identical ----

  private def corpus: DataFrame = {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    (0 until 40).map { i =>
      val text = (0 until 6 + i % 5)
        .map(j => words((i * 7 + j * 3) % words.length)).mkString(" ")
      (i.toLong, if (i % 9 == 0) text + " " + text else text)
    }.toDF("id", "text")
  }

  test("minhashSignaturesFrom(shingleSets) == minhashSignatures from raw text") {
    val sets = Dedup.shingleSets(corpus, "id", "text", 3)
    val a = Dedup.minhashSignaturesFrom(sets, 16)
    val b = Dedup.minhashSignatures(corpus, "id", "text", 3, 16)
    assert(a.unionByName(b).distinct().count() == a.count())
    assert(a.count() == b.count())
  }

  // ---- stratified band fusion: one tagged frame == per-group union ----

  test("stratifiedContainmentPairs (fused band frame) == per-group union form") {
    // the r10 shape, reimplemented verbatim: one band frame per plan
    // group, per-group delta filter, union + distinct — the reference
    // the r11 single-posexplode fusion must reproduce exactly
    val df = corpus
    val (n, threshold, numHashes, maxRatio, recallTarget) =
      (3, 0.5, 64, 8.0, 0.9)
    val plan = Dedup.stratifiedBandPlan(threshold, numHashes, maxRatio,
      recallTarget)
    val sets = Dedup.shingleSets(df, "id", "text", n)
    val sigs = Dedup.minhashSignaturesFrom(sets, numHashes)
      .join(sets.select(col("id"),
        (length(bin(col("_sz"))) - 1).as("_st")), Seq("id"))
    val candRef = plan.toSeq.sortBy(_._1).map { case ((r, b), deltas) =>
      val banded = sigs.select(col("id"), col("_st"),
        posexplode(Dedup.bandBuckets(col("sig"), b, r))
          .as(Seq("band", "bucket")))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .filter(abs(col("a._st") - col("b._st"))
          .isin(deltas.map(Integer.valueOf): _*))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    }.reduce(_ unionByName _).distinct()
    // the fused operator's full output vs the reference candidates
    // verified the same way (exact verification is shared code, so
    // pinning the candidate set pins the result)
    val fused = Dedup.stratifiedContainmentPairs(df, "id", "text", n,
      threshold, numHashes, maxRatio, recallTarget)
    val refVerified = candRef
      .join(sets.select(col("id").as("id_a"), col("_grams").as("_ga"),
        col("_sz").as("_sa")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("_grams").as("_gb"),
        col("_sz").as("_sb")), Seq("id_b"))
      .filter(greatest(col("_sa"), col("_sb")).cast("double") <=
        lit(maxRatio) * least(col("_sa"), col("_sb")).cast("double"))
      .withColumn("_i", graft.functions
        .sortedIntersectCount(col("_ga"), col("_gb")).cast("long"))
      .withColumn("c_ab", round(col("_i").cast("double") / col("_sa"), 6))
      .withColumn("c_ba", round(col("_i").cast("double") / col("_sb"), 6))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("id_a", "id_b", "c_ab", "c_ba")
    assert(fused.unionByName(refVerified).distinct().count() == fused.count(),
      "fused pairs differ from the per-group union reference")
    assert(fused.count() == refVerified.count())
    assert(fused.count() > 0, "degenerate spec: no pairs at all")
  }
}

object Round11OpsSpec {

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The original Jackson UDF — retained ONLY as the behavioural
    * reference for [[graft.functions.JsonbMergeImpl]]'s equivalence
    * spec; no query path calls it.
    */
  val jsonbMergeShallowUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: String, b: String) =>
      (Option(a), Option(b)) match {
        case (None, bb) => bb.orNull
        case (aa, None) => aa.orNull
        case (Some(aa), Some(bb)) =>
          val na = jsonMapper.readTree(aa)
          val nb = jsonMapper.readTree(bb)
          if (!na.isObject || !nb.isObject) bb
          else {
            val out = jsonMapper.createObjectNode()
            na.fields().forEachRemaining { e => out.set(e.getKey, e.getValue); () }
            nb.fields().forEachRemaining { e => out.set(e.getKey, e.getValue); () }
            jsonMapper.writeValueAsString(out)
          }
      }
    }
}
