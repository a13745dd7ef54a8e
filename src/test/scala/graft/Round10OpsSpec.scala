package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-10 specs: the optimization round's kernel-equivalence pins —
  * each rewritten hot path is asserted byte-equal to the Column
  * formulation it replaced, on the edge shapes that differ between
  * naive implementations.
  */
class Round10OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  /** The r9 HOF formulation of the canonical query suffix, verbatim
    * (the interpreted chain [[graft.functions.canonicalQuery]]
    * replaced).
    */
  private def hofSuffix(q: org.apache.spark.sql.Column) =
    Dedup.bind(
      array_join(array_sort(filter(split(q, "&", -1),
        p => p =!= "" && !p.startsWith("utm_"))), "&"),
      j => when(j =!= "", concat(lit("?"), j)).otherwise(lit("")))

  test("canonicalQuery kernel == HOF chain on every edge shape") {
    import spark.implicits._
    val cases = Seq(
      "",                       // empty query -> ""
      "a=1",                    // single param
      "b=2&a=1",                // unsorted -> sorted
      "utm_source=x",           // all params stripped -> ""
      "utm_source=x&utm_medium=y",
      "a=1&utm_source=x&b=2",   // strip interleaved
      "&&a=1&&",                // doubled/lead/trail separators
      "&",                      // only separators -> ""
      "a=1&a=1",                // duplicates kept, adjacent after sort
      "A=1&a=2",                // case-sensitive byte order: 'A' < 'a'
      "k",                      // bare key, no '='
      "k=",                     // empty value
      "=v",                     // empty key
      "utm=1",                  // "utm" without underscore survives
      "utm_",                   // bare tracking prefix stripped
      "xutm_source=1",          // prefix must anchor at start
      "名前=値&a=1",            // multi-byte UTF-8 sorts after ASCII
      "a=%E2%82%AC&b=2",        // percent-encoded bytes pass through
      "z=26%26&y=1&x=2",        // encoded '&' inside a value
      // >8 surviving segments: exercises the kernel's span-array
      // doubling path and the insertion sort at larger n (r11, per the
      // r10 advice — earlier cases all had <=3 survivors)
      "k=11&j=10&i=9&h=8&g=7&f=6&e=5&d=4&c=3&b=2&a=1",
      "m=1&utm_source=x&l=2&k=3&j=4&i=5&h=6&g=7&f=8&e=9&d=10&c=11&b=12&a=13"
    )
    val df = cases.toDF("q")
    val out = df.select(
        graft.functions.canonicalQuery(col("q")).as("kernel"),
        hofSuffix(col("q")).as("hof"))
      .collect()
    out.zip(cases).foreach { case (r, c) =>
      assert(r.getString(0) == r.getString(1),
        s"mismatch for query '$c': kernel=${r.getString(0)} hof=${r.getString(1)}")
    }
  }

  test("canonicalQuery: null propagates (concat-compatible)") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a=1")).toDF("q")
    val rows = df.select(graft.functions.canonicalQuery(col("q")))
      .collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getString(0) == "?a=1")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("Manifest.statusReport == statuses LEFT JOIN sampleUpdates, every ladder branch") {
    import spark.implicits._
    val feed = Seq(
      // processed, both barcodes, date present
      (1L, """{"sample":"S1","collection":"C1","date":"2024-01-02"}"""),
      // processed, sample only, no date
      (2L, """{"sample":"S2"}"""),
      // processed, collection only
      (3L, """{"collection":"C3","date":"2024-02-03"}"""),
      // no barcodes
      (4L, """{"date":"2024-03-04"}"""),
      // unknown sample barcode
      (5L, """{"sample":"SX"}"""),
      // unknown collection barcode
      (6L, """{"collection":"CX"}"""),
      // collection identifier in unexpected set
      (7L, """{"collection":"C7"}"""),
      // processed, sample-only WITH a date (date is independent of keys;
      // a malformed date throws in BOTH forms under ANSI to_date)
      (8L, """{"sample":"S8","date":"2024-04-05"}""")
    ).toDF("id", "document")
    val idents = Seq(
      ("S1", "su-1", "samples"), ("S2", "su-2", "samples"),
      ("S8", "su-8", "samples"),
      ("C1", "cu-1", "collections-scan"), ("C3", "cu-3", "collections-kiosks"),
      ("C7", "cu-7", "not-a-collection-set")
    ).toDF("barcode", "uuid", "set_name")
    val delta = graft.etl.Feeds.Manifest.decompose(feed, idents)
    val joined = delta.statuses.join(
      delta.sampleUpdates.select(col("id"), col("identifier"),
        col("collection_identifier"), col("collection_date"),
        col("update_identifiers")),
      Seq("id"), "left")
    val fused = graft.etl.Feeds.Manifest.statusReport(feed, idents)
    assert(fused.columns.toSeq == joined.columns.toSeq)
    assert(rows(fused) == rows(joined))
    // the ladder actually exercised every branch
    val reasons = delta.statuses.select("skip_reason").collect()
      .map(r => Option(r.getString(0)).getOrElse("null")).toSet
    assert(reasons == Set("null", "no barcodes", "unknown sample barcode",
      "unknown collection barcode", "collection identifier in unexpected set"))
  }

  test("Kit.statusReport == statuses LEFT JOIN kitUpdates, every ladder branch") {
    import spark.implicits._
    val feed = Seq(
      (1L, """{"kit":"K1","sample":"S1","sample_type":"utm"}"""), // processed
      (2L, """{"sample":"S2"}"""),                                // no kit data
      (3L, """{"kit":"K3","sample":"SX"}"""),                     // unknown sample barcode
      (4L, """{"kit":"K4","sample":"S4"}"""),                     // sample in unexpected set
      (5L, """{"kit":"K5","sample":"S5"}"""),                     // error: sample not found
      (6L, """{"kit":"K6","sample":"S6"}"""),                     // unknown sample type
      (7L, """{"kit":"KX","sample":"S7"}"""),                     // unknown kit barcode
      (8L, """{"kit":"K8","sample":"S8"}""")                      // kit in unexpected set
    ).toDF("id", "document")
    val idents = Seq(
      ("S1", "su-1", "samples"), ("S3", "su-3", "samples"),
      ("S4", "su-4", "bad-set"), ("S5", "su-5", "samples"),
      ("S6", "su-6", "samples"), ("S7", "su-7", "samples"),
      ("S8", "su-8", "samples"),
      ("K1", "ku-1", "kits"), ("K3", "ku-3", "kits"), ("K4", "ku-4", "kits"),
      ("K5", "ku-5", "kits"), ("K6", "ku-6", "kits"), ("K8", "ku-8", "bad-kits")
    ).toDF("barcode", "uuid", "set_name")
    val wh = Seq(("su-1", "utm"), ("su-3", "utm"), ("su-4", "rdt"),
      ("su-6", "blood"), ("su-7", "utm"), ("su-8", "rdt"))
      .toDF("identifier", "sample_type")
    val delta = graft.etl.Feeds.Kit.decompose(feed, idents, wh)
    val joined = delta.statuses.join(
      delta.kitUpdates.select(col("id"), col("kit_identifier"),
        col("sample_uuid"), col("sample_type")),
      Seq("id"), "left")
    val fused = graft.etl.Feeds.Kit.statusReport(feed, idents, wh)
    assert(fused.columns.toSeq == joined.columns.toSeq)
    assert(rows(fused) == rows(joined))
    val reasons = delta.statuses.select("skip_reason").collect()
      .map(r => Option(r.getString(0)).getOrElse("null")).toSet
    assert(reasons == Set("null", "no kit data", "unknown sample barcode",
      "sample identifier in unexpected set", "error: sample not found",
      "unknown sample type", "unknown kit barcode",
      "kit identifier in unexpected set"))
  }

  test("Enrollments.statusReport == statuses ⋈ encounters ⋈ sampleUpdates") {
    import spark.implicits._
    val feed = Seq(
      // processed, TWO ClinicSwab codes -> fan-out through the 1:N join
      (1L, """{"schemaVersion":"1.0.0","id":"enc-1","participant":"p1",""" +
        """"startTimestamp":"2024-01-02T03:04:05Z","localeLanguageCode":"en",""" +
        """"site":{"name":"site-a","type":"clinic"},""" +
        """"age":{"value":"33.0","ninetyOrAbove":false},""" +
        """"sampleCodes":[{"code":"B1","type":"ClinicSwab"},{"code":"B2","type":"ClinicSwab"}],""" +
        """"responses":[{"question":{"token":"AssignedSex"},"options":[{"token":"male"},{"token":"female"}],"answer":{"type":"Option","chosenOptions":[1]}}]}"""),
      // processed, no codes, ninetyOrAbove age
      (2L, """{"schemaVersion":"1.1.0","id":"enc-2","participant":"p2",""" +
        """"startTimestamp":"2024-02-03T04:05:06Z",""" +
        """"age":{"value":"95","ninetyOrAbove":true}}"""),
      // unknown schema version -> error, no encounter fields
      (3L, """{"schemaVersion":"9.9.9","id":"enc-3"}"""),
      // NULL schema version: statuses says processed (isin(null) -> null),
      // but the encounters filter drops it -> encounter fields null
      (4L, """{"id":"enc-4"}"""),
      // processed, code with unknown barcode (dropped by the ident join)
      (5L, """{"schemaVersion":"1.0.0","id":"enc-5",""" +
        """"sampleCodes":[{"code":"BX","type":"ClinicSwab"}]}"""),
      // processed, code in a non-collection set (dropped by the set filter)
      (6L, """{"schemaVersion":"1.0.0","id":"enc-6",""" +
        """"sampleCodes":[{"code":"B6","type":"ClinicSwab"}]}""")
    ).toDF("id", "document")
    val idents = Seq(
      ("B1", "cu-1", "collections-scan"), ("B2", "cu-2", "collections-kiosks"),
      ("B6", "cu-6", "not-a-collection-set")
    ).toDF("barcode", "uuid", "set_name")
    val delta = graft.etl.Feeds.Enrollments.decompose(feed, idents)
    val joined = delta.statuses
      .join(delta.encounters.select(col("id"), col("identifier"),
          col("encountered"), col("individual_identifier"), col("sex"),
          col("site_identifier"), col("age"), col("language")),
        Seq("id"), "left")
      .join(delta.sampleUpdates.select(
          col("encounter_identifier").as("identifier"),
          col("collection_identifier")),
        Seq("identifier"), "left")
      .select(col("id"), col("status"), col("skip_reason"), col("identifier"),
        col("encountered"), col("individual_identifier"), col("sex"),
        col("site_identifier"), col("age"), col("language"),
        col("collection_identifier"))
    val fused = graft.etl.Feeds.Enrollments.statusReport(feed, idents)
    assert(fused.columns.toSeq == joined.columns.toSeq)
    assert(rows(fused) == rows(joined))
    // the fan-out row really fans out, and the null-version subtlety holds
    assert(fused.filter(col("id") === 1L).count() == 2)
    val r4 = fused.filter(col("id") === 4L).collect()(0)
    assert(r4.getString(1) == "processed" && r4.isNullAt(3))
  }

  test("ConsensusGenome.statusReport == statuses ⋈ readSets ⋈ sequences") {
    import spark.implicits._
    val feed = Seq(
      // processed + complete with TWO sequences -> fan-out
      (1L, """{"sample_identifier":"cg-1","status":"complete","reference_organism":"h1n1pdm",""" +
        """"metadata":{"urls":["u2","u1"]},""" +
        """"masked_consensus":[{"sequence_identifier":"s1","sequence_segment":"HA","genomic_sequence":"ACGT"},""" +
        """{"sequence_identifier":"s2","sequence_segment":"NA","genomic_sequence":"ACGG"}]}"""),
      // processed, NOT complete -> readSet row, no sequences
      (2L, """{"sample_identifier":"cg-2","status":"notMapped","reference_organism":"vic",""" +
        """"metadata":{"urls":["u3"]}}"""),
      // sample not found
      (3L, """{"sample_identifier":"cg-x","status":"complete","reference_organism":"h3n2"}"""),
      // unknown organism
      (4L, """{"sample_identifier":"cg-4","status":"complete","reference_organism":"sars"}"""),
      // known organism name, nothing matches the lquery
      (5L, """{"sample_identifier":"cg-5","status":"complete","reference_organism":"yam"}""")
    ).toDF("id", "document")
    val wh = Seq("cg-1", "cg-2", "cg-4", "cg-5").toDF("identifier")
    val organisms = Seq("Influenza.A.H1N1", "Influenza.A.H3N2",
      "Influenza.B.Vic").toDF("lineage")
    val delta = graft.etl.Feeds.ConsensusGenome.decompose(feed, wh, organisms)
    val joined = delta.statuses
      .join(delta.readSets.select(col("id"), col("sample_uuid"), col("urls"),
          col("organism_lineage"), col("rs_status")),
        Seq("id"), "left")
      .join(delta.sequences.select(col("id"),
          col("sequence_identifier"), col("segment")),
        Seq("id"), "left")
    val fused = graft.etl.Feeds.ConsensusGenome.statusReport(feed, wh, organisms)
    assert(fused.columns.toSeq == joined.columns.toSeq)
    assert(rows(fused) == rows(joined))
    assert(fused.filter(col("id") === 1L).count() == 2) // sequence fan-out
    val reasons = fused.select("skip_reason").collect()
      .map(r => Option(r.getString(0)).getOrElse("null")).toSet
    assert(reasons == Set("null", "error: sample not found",
      "error: unknown organism", "error: no organism matched"))
  }

  test("canonicalizeUrl end-to-end: unchanged on the q152 surface forms") {
    import spark.implicits._
    val urls = Seq(
      "HTTPS://WWW.Shop3.Example.COM:443/Catalog/Item/42/?utm_source=feed&b=2&a=1#Sec2",
      "http://Host.Example.com:80/Path?b=2&a=1",
      "https://h.example.com/",
      "https://h.example.com",
      "https://h.example.com:8443/x?utm_source=f",
      "http://h/x//?a=1&b=2")
    val out = Web.canonicalDedup(urls.toDF("url"), "url")
      .orderBy("canonical_url").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("http://h/x?a=1&b=2", 1L, 1L),
      ("http://host.example.com/Path?a=1&b=2", 1L, 1L),
      ("https://h.example.com/", 2L, 2L),
      ("https://h.example.com:8443/x", 1L, 1L),
      ("https://www.shop3.example.com/Catalog/Item/42?a=1&b=2", 1L, 1L)))
  }
}
