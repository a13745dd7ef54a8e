package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.etl.{Etl, FhirEtl}

class FhirEtlSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  private val sys = FhirEtl.InternalSystem

  private def bundle(entries: String*): String =
    s"""{"resourceType":"Bundle","type":"collection","entry":[${entries.mkString(",")}]}"""
  private def entry(fullUrl: String, res: String): String =
    s"""{"fullUrl":"$fullUrl","resource":$res}"""

  private val patient =
    entry("urn:uuid:p1",
      s"""{"resourceType":"Patient","gender":"female",
         |"identifier":[{"system":"$sys/individual","value":"ind-1"}]}""".stripMargin)
  private val encounter =
    entry("urn:uuid:e1",
      s"""{"resourceType":"Encounter","period":{"start":"2024-03-04T00:00:00Z"},
         |"identifier":[{"system":"$sys/encounter","value":"enc-1"}],
         |"subject":{"reference":"urn:uuid:p1"},
         |"location":[{"location":{"identifier":{"system":"$sys/site","value":"site-9"}}}]}""".stripMargin)
  private val obsLink =
    entry("urn:uuid:o1",
      """{"resourceType":"Observation","encounter":{"reference":"urn:uuid:e1"},
        |"specimen":{"reference":"urn:uuid:s1"}}""".stripMargin)
  private val specimen =
    entry("urn:uuid:s1",
      s"""{"resourceType":"Specimen",
         |"identifier":[{"system":"$sys/sample","value":"BCX1"}],
         |"note":[{"text":"hello"}],
         |"collection":{"collectedDateTime":"2024-03-04T12:00:00Z"}}""".stripMargin)

  private def feedOf(docs: (Long, String)*) = {
    import spark.implicits._
    docs.toSeq.toDF("id", "document")
  }

  private def emptyIdent = {
    import spark.implicits._
    Seq.empty[(String, String, String)].toDF("barcode", "uuid", "set_name")
  }
  private def emptySamples = {
    import spark.implicits._
    Seq.empty[(String, String)].toDF("identifier", "collection_identifier")
  }

  test("classify: error / skip reasons mirror the reference's asserts") {
    val feed = feedOf(
      1L -> bundle(patient, encounter, obsLink, specimen), // ok
      2L -> """{"resourceType":"Observation"}""", // not a bundle → error
      3L -> bundle(obsLink, specimen), // no patient, no DR → skipped
      4L -> bundle(patient, specimen), // patient without encounter → skipped
      5L -> bundle(patient,
        entry("urn:uuid:e1",
          s"""{"resourceType":"Encounter","period":{"start":"2024-01-01T00:00:00Z"},
             |"subject":{"reference":"urn:uuid:p1"}}""".stripMargin))) // no site
    val st = FhirEtl.classify(feed).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(1L -> "processed", 2L -> "error", 3L -> "skipped",
      4L -> "skipped", 5L -> "skipped"))
  }

  test("decompose: encounter graph recovers identifiers, site, sex, date") {
    val feed = feedOf(1L -> bundle(patient, encounter, obsLink, specimen))
    import spark.implicits._
    val idents = Seq(("BCX1", "uuid-77", "collections-scan"))
      .toDF("barcode", "uuid", "set_name")
    val d = FhirEtl.decompose(feed, idents, emptySamples)
    val enc = d.encounters.collect().head
    assert(enc.getAs[String]("identifier") == "enc-1")
    assert(enc.getAs[String]("individual_identifier") == "ind-1")
    assert(enc.getAs[String]("sex") == "female")
    assert(enc.getAs[String]("site_identifier") == "site-9")
    val su = d.sampleUpdates.collect().head
    assert(su.getAs[String]("collection_identifier") == "uuid-77")
    assert(su.getAs[String]("identifier") == null) // collection set
    assert(su.getAs[String]("encounter_identifier") == "enc-1")
    assert(su.getAs[String]("note") == "hello")
    assert(su.getAs[java.sql.Date]("collection_date").toString == "2024-03-04")
    // the specimen identifier join hashes the batch; it never broadcasts
    // the identifier table, whose hashed relation outlives the cycle
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    object Plans extends AdaptiveSparkPlanHelper
    assert(Plans.collect(d.sampleUpdates.queryExecution.executedPlan) {
      case j: ShuffledHashJoinExec => j
    }.nonEmpty, d.sampleUpdates.queryExecution.executedPlan)
    assert(d.sites.collect().map(_.getString(0)).toSeq == Seq("site-9"))
  }

  test("decompose: DR path creates missing collection samples, drops unknown barcodes") {
    import spark.implicits._
    val dr = entry("urn:uuid:d1",
      s"""{"resourceType":"DiagnosticReport",
         |"specimen":[{"identifier":{"system":"$sys","value":"BCX1"}},
         |            {"identifier":{"system":"$sys","value":"NOPE"}}],
         |"result":[{"reference":"urn:uuid:r1"}],
         |"effectiveDateTime":"2024-03-04T08:00:00Z"}""".stripMargin)
    val resultObs = entry("urn:uuid:r1",
      """{"resourceType":"Observation",
        |"code":{"coding":[{"system":"http://snomed.info/sct","code":"441343005"}]},
        |"valueCodeableConcept":{"coding":[{"system":"http://snomed.info/sct","code":"10828004"}]},
        |"device":{"identifier":{"value":"OpenArray"}}}""".stripMargin)
    val feed = feedOf(1L -> bundle(dr, resultObs))
    val idents = Seq(("BCX1", "uuid-77", "collections-scan"))
      .toDF("barcode", "uuid", "set_name")
    val d = FhirEtl.decompose(feed, idents, emptySamples)
    val pa = d.presenceAbsence.collect()
    assert(pa.length == 1) // NOPE barcode dropped
    assert(pa.head.getAs[String]("identifier") == "BCX1/441343005/OpenArray")
    assert(pa.head.getAs[Boolean]("present"))
    // missing collection-set sample → created with collection identifier only
    val created = d.sampleUpdates.collect()
    assert(created.length == 1 &&
      created.head.getAs[String]("collection_identifier") == "uuid-77")
    assert(d.targets.collect().map(_.getString(0)).toSeq ==
      Seq(s"${FhirEtl.SnomedTerm}/441343005"))
  }

  test("decompose: the identifier Bloom gate runs only when the table " +
      "cannot broadcast, and never changes the answer") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // DR barcodes: resolvable into the sample set with a stored sample
    // (BCS1), resolvable into the sample set without one (BCS2, dropped
    // as SampleNotFound), collection-set with a stored sample (BCC1) and
    // without one (BCC2, sample created), outside the expected sets (BCX9,
    // dropped) and unknown (NOPE1, NOPE2, dropped)
    val barcodes = Seq("BCS1", "BCS2", "BCC1", "BCC2", "BCX9", "NOPE1", "NOPE2")
    val idents = Seq(("BCS1", "u-s1", "samples"), ("BCS2", "u-s2", "samples"),
      ("BCC1", "u-c1", "collections-scan"), ("BCC2", "u-c2", "collections-kiosks"),
      ("BCX9", "u-x9", "not-a-set"))
    val samples = Seq(("u-s1", null: String), ("s-9", "u-c1"))
    val resultObs = entry("urn:uuid:r1",
      """{"resourceType":"Observation",
        |"code":{"coding":[{"system":"http://snomed.info/sct","code":"441343005"}]},
        |"valueBoolean":true,
        |"device":{"identifier":{"value":"OpenArray"}}}""".stripMargin)
    val docs = barcodes.zipWithIndex.map { case (b, i) =>
      (i + 1).toLong -> bundle(entry("urn:uuid:d1",
        s"""{"resourceType":"DiagnosticReport",
           |"specimen":[{"identifier":{"system":"$sys","value":"$b"}}],
           |"result":[{"reference":"urn:uuid:r1"}],
           |"effectiveDateTime":"2024-03-04T08:00:00Z"}""".stripMargin),
        resultObs)
    }

    // ungated reference: the inner identifier join, by hand
    val identOf = idents.map(t => t._1 -> (t._2, t._3)).toMap
    val stored = samples.flatMap(t => Seq(t._1, t._2)).filter(_ != null).toSet
    val resolved = barcodes.flatMap(b => identOf.get(b).map(b -> _))
      .filter { case (_, (_, set)) => (FhirEtl.expectedCollectionSets ++
        FhirEtl.expectedSampleSets).contains(set) }
    val expectedPa = resolved.collect {
      case (b, (u, set)) if stored(u) || FhirEtl.expectedCollectionSets.contains(set) =>
        s"$b/441343005/OpenArray"
    }.sorted
    val expectedCreated = resolved.collect {
      case (_, (u, set)) if !stored(u) && FhirEtl.expectedCollectionSets.contains(set) =>
        s"null|$u|null|null|null"
    }.sorted
    assert(expectedPa == Seq("BCC1/441343005/OpenArray",
      "BCC2/441343005/OpenArray", "BCS1/441343005/OpenArray"))
    assert(expectedCreated == Seq("null|u-c2|null|null|null"))

    object Plans extends AdaptiveSparkPlanHelper
    def bloomGated(df: DataFrame): Boolean =
      Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
        case p if p.expressions.exists(_.exists(_.isInstanceOf[BloomFilterAggregate])) => p
      }.nonEmpty
    def run(s: SparkSession): (Seq[String], Seq[String], Boolean) = {
      import s.implicits._
      val d = FhirEtl.decompose(docs.toDF("id", "document"),
        idents.toDF("barcode", "uuid", "set_name"),
        samples.toDF("identifier", "collection_identifier"))
      val pa = d.presenceAbsence.select("identifier")
      val paRows = pa.collect().map(_.getString(0)).toSeq.sorted
      val su = d.sampleUpdates.collect().map(_.toSeq.mkString("|")).toSeq.sorted
      (paRows, su, bloomGated(pa))
    }

    val (paBroadcast, suBroadcast, gatedBroadcast) = run(spark)
    assert(!gatedBroadcast, "broadcastable identifier table was Bloom-gated")
    val noBroadcast = spark.newSession()
    noBroadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (paGated, suGated, gatedShuffled) = run(noBroadcast)
    assert(gatedShuffled, "shuffled identifier join lost its Bloom gate")
    assert(paBroadcast == expectedPa && paGated == expectedPa)
    assert(suBroadcast == expectedCreated && suGated == expectedCreated)
  }

  test("upsertSamples preserves stored identifiers unless updateIdentifiers") {
    import spark.implicits._
    val cur = Seq((1L, "A1", "C1", "{}"))
      .toDF("sample_id", "identifier", "collection_identifier", "details")
    // matched via collection_identifier, carries a different identifier
    val upd = Seq(("A-NEW", "C1", "{}"))
      .toDF("identifier", "collection_identifier", "details")
    val keep = Etl.upsertSamples(cur, upd).collect().head
    assert(keep.getAs[String]("identifier") == "A1")
    assert(keep.getAs[String]("collection_identifier") == "C1")
    val overwrite = Etl.upsertSamples(cur, upd, updateIdentifiers = true)
      .collect().head
    assert(overwrite.getAs[String]("identifier") == "A-NEW")
    assert(overwrite.getAs[String]("collection_identifier") == "C1")
    // created rows always take the update's identifiers
    val newUpd = Seq(("A9", "C9", "{}"))
      .toDF("identifier", "collection_identifier", "details")
    val created = Etl.upsertSamples(cur, newUpd).collect()
      .filter(_.getLong(0) == 2L).head
    assert(created.getAs[String]("identifier") == "A9")
  }

  test("statusesWithEncounters == statuses LEFT JOIN encounters (the " +
      "fused one-pass report matches the decompose join form)") {
    // bundles covering every row shape: processed-with-encounter,
    // error, skipped, and processed via the DR path (no encounter →
    // null encounter fields must still keep the row)
    val dr = entry("urn:uuid:d1",
      """{"resourceType":"DiagnosticReport",
        |"specimen":[{"reference":"urn:uuid:s1"}],
        |"result":[],"effectiveDateTime":"2024-05-06T08:00:00Z"}"""
        .stripMargin)
    val feed = feedOf(
      1L -> bundle(patient, encounter, obsLink, specimen),
      2L -> """{"resourceType":"Observation"}""",
      3L -> bundle(obsLink, specimen),
      4L -> bundle(dr, specimen))
    val fused = FhirEtl.statusesWithEncounters(feed)
      .select("id", "status", "skip_reason", "identifier", "encountered",
        "individual_identifier", "sex", "language", "site_identifier",
        "age")
    val delta = FhirEtl.decompose(feed, emptyIdent, emptySamples)
    val joined = delta.statuses.join(
        delta.encounters.select(col("id"), col("identifier"),
          col("encountered"), col("individual_identifier"), col("sex"),
          col("language"), col("site_identifier"), col("age")),
        Seq("id"), "left")
      .select("id", "status", "skip_reason", "identifier", "encountered",
        "individual_identifier", "sex", "language", "site_identifier",
        "age")
    assert(fused.collect().map(_.toString).sorted.toSeq ==
      joined.collect().map(_.toString).sorted.toSeq)
    // and every bundle keeps exactly one row here (≤1 encounter each)
    assert(fused.count() == 4)
  }
}
