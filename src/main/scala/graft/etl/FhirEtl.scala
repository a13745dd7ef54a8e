package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The FHIR bundle ETL — the reference's largest single operator
  * (id3c lib/id3c/cli/command/etl/fhir.py:105-992), re-expressed as a
  * dependency-ordered graph of DataFrame transforms instead of a
  * per-record resource walk.
  *
  * Reference shape: for each receiving.fhir document, validate the Bundle
  * (fhir.py:140-151), index resources by type (:265-276), process every
  * Encounter entry before any DiagnosticReport entry (:152-164, ordering
  * avoids SampleNotFoundError), and run the dependency-ordered upsert
  * graph site → individual → encounter → sample → presence_absence
  * (:453-966).
  *
  * Spark shape: a FHIR Bundle is SELF-CONTAINED — every `resolved(X)`
  * reference walk in the reference resolves a fullUrl within the same
  * bundle. So the engine keeps each bundle as ONE row (one typed entry
  * array, parsed in a single Jackson pass against a merged union schema)
  * and every reference resolution is an array lookup inside that row:
  * per-row compute, zero shuffle. Only the genuinely cross-table lookups
  * (the identifier table, the current samples table) are joins. The
  * Encounters-before-DiagnosticReports ordering is not a loop ordering
  * here — it falls out of the dataflow: the sample delta from encounters
  * feeds the DR path's sample lookup.
  *
  * Scale: the intra-bundle work is embarrassingly parallel (no keyed
  * exchange at all — the previous formulation shuffled the exploded
  * entry set six times per query for (id, fullUrl) equi-joins); the two
  * real joins are keyed on barcode/uuid, broadcast when the dim is small
  * and shuffled when warehouse-sized, with only narrow typed columns on
  * the probe side. No driver-side iteration anywhere.
  */
object FhirEtl {

  val EtlName = "fhir" // fhir.py:59
  val Revision = 5 // fhir.py:58
  val InternalSystem = "https://seattleflu.org" // fhir.py:60
  val LocationRelationSystem = "http://terminology.hl7.org/CodeSystem/v3-RoleCode"
  val SnomedSystem = "http://snomed.info/sct" // fhir.py:62
  val SnomedTerm = "http://snomed.info/id" // fhir.py:63
  val LanguageSystem = "urn:ietf:bcp:47" // fhir.py:64

  /** fhir.py:65-88 */
  val expectedCollectionSets: Seq[String] = Seq(
    "collections-household-observation", "collections-household-intervention",
    "collections-household-intervention-asymptomatic", "collections-swab&send",
    "collections-kiosks", "collections-self-test", "collections-seattleflu.org",
    "collections-swab&send-asymptomatic", "collections-scan",
    "collections-scan-kiosks", "collections-uw-home", "collections-uw-observed",
    "collections-uw-tiny-swabs", "collections-uw-tiny-swabs-home",
    "collections-uw-tiny-swabs-observed", "collections-household-general",
    "collections-childcare", "collections-scan-tiny-swabs",
    "collections-adult-family-home-outbreak-tiny-swabs",
    "collections-workplace-outbreak-tiny-swabs", "collections-airs")
  val expectedSampleSets: Seq[String] = Seq("samples") // fhir.py:89

  private def ddl(s: String): DataType = DataType.fromDDL(s)

  // One merged resource schema — the union of every field any of the six
  // resource types' ETL paths read (the per-type partial schemas of the
  // reference walk, fhir.py:453-966, fused). Parsing the WHOLE bundle
  // document against this one schema means Jackson touches each byte of
  // JSON exactly once; the previous two-pass design (capture each entry's
  // resource subtree as raw text, re-parse per type) billed a second full
  // Jackson pass to every typed branch. Field names are disjoint-or-
  // identically-shaped across the six types with ONE exception:
  // `specimen` is a Reference struct on Observation but an array of
  // References on DiagnosticReport — that field alone is captured as raw
  // JSON text (StringType capture) and re-parsed per branch against the
  // branch's shape (a few dozen bytes per row, not the whole resource).
  private val identDdl = "identifier: ARRAY<STRUCT<system: STRING, value: STRING>>"
  private val codingDdl = "coding: ARRAY<STRUCT<system: STRING, code: STRING, display: STRING>>"
  val resourceSchemaDdl: String =
    "STRUCT<resourceType: STRING, " +
      // Patient (fhir.py:404-409, 563-573)
      s"gender: STRING, $identDdl, communication: ARRAY<STRUCT<" +
      s"language: STRUCT<$codingDdl>, preferred: BOOLEAN>>, " +
      // Encounter (fhir.py:453-505, 575-620)
      "status: STRING, period: STRUCT<start: STRING>, " +
      "subject: STRUCT<reference: STRING>, partOf: STRUCT<reference: STRING>, " +
      s"reasonCode: ARRAY<STRUCT<$codingDdl>>, " +
      "location: ARRAY<STRUCT<location: STRUCT<reference: STRING, " +
      "identifier: STRUCT<system: STRING, value: STRING>>>>, " +
      "meta: STRUCT<source: STRING>, " +
      // Observation (fhir.py:896-966) / QuestionnaireResponse (:710-756)
      "encounter: STRUCT<reference: STRING>, " +
      "specimen: STRING, " + // shape conflicts across types — raw capture
      s"code: STRUCT<$codingDdl>, valueBoolean: BOOLEAN, " +
      s"valueCodeableConcept: STRUCT<$codingDdl>, " +
      "device: STRUCT<identifier: STRUCT<value: STRING>>, " +
      "item: ARRAY<STRUCT<linkId: STRING, " +
      "answer: ARRAY<STRUCT<valueInteger: INT>>>>, " +
      // Specimen (fhir.py:622-708)
      "note: ARRAY<STRUCT<text: STRING>>, " +
      "collection: STRUCT<collectedDateTime: STRING, " +
      "collectedPeriod: STRUCT<start: STRING, end: STRING>>, " +
      // DiagnosticReport (fhir.py:191-257)
      "result: ARRAY<STRUCT<reference: STRING>>, effectiveDateTime: STRING>"
  /** Observation.specimen / QuestionnaireResponse-style single Reference. */
  val specimenRefSchema: DataType = ddl("STRUCT<reference: STRING>")
  /** DiagnosticReport.specimen — array of References w/ inline identifier. */
  val drSpecimenSchema: DataType = ddl(
    "ARRAY<STRUCT<reference: STRING, " +
      "identifier: STRUCT<system: STRING, value: STRING>>>")

  /** `identifier(resource, system)` (fhir.py:383-402): the identifier
    * value in `system`, or null. (The reference asserts exactly one; we
    * take the first — the assert can be layered as a column if needed.)
    */
  def identifierFor(identArr: Column, system: String): Column =
    try_element_at(
      filter(coalesce(identArr, array()),
        i => i.getField("system") === lit(system)), lit(1))
      .getField("value")

  /** `matching_system_code` (fhir.py:414-435): code for `system` in a
    * CodeableConcept, or null.
    */
  def codeFor(concept: Column, system: String): Column =
    try_element_at(
      filter(coalesce(concept.getField("coding"), array()),
        c => c.getField("system") === lit(system)), lit(1))
      .getField("code")

  /** Entries of resource type `t` within a bundle's entry array. */
  private def ofType(entries: Column, t: String): Column =
    filter(entries, e => e.getField("resource").getField("resourceType") === lit(t))

  /** Bundle-local `resolved(X)` (fhir.py:308-339): the first entry whose
    * fullUrl equals `ref`, or null — a per-row array lookup, because FHIR
    * references in a collection Bundle resolve within the same bundle.
    */
  private def resolve(entries: Column, ref: Column): Column =
    try_element_at(filter(entries, e => e.getField("fullUrl") === ref), lit(1))

  private def resOf(e: Column): Column = e.getField("resource")

  /** Parse each bundle document ONCE (merged union schema — Jackson
    * touches every byte exactly once) and derive the bundle-level status
    * in the same pass: `assert_bundle_collection` (fhir.py:140-151, a
    * hard error in the reference), `assert_required_resource_types_present`
    * (fhir.py:341-368, a SkipBundleError) and the per-encounter site
    * requirement (fhir.py:184-185: no site ⇒ SkipBundleError) are all
    * per-row array expressions — no aggregation, no shuffle.
    *
    * Output: one row per bundle — id, entries (typed entry array),
    * status ∈ (processed|skipped|error), skip_reason.
    */
  def parseBundles(feed: DataFrame): DataFrame = {
    val entryArr = ddl(s"ARRAY<STRUCT<fullUrl: STRING, resource: $resourceSchemaDdl>>")
    // Repartition BEFORE the parse — but only when the scan is actually
    // starved: a receiving feed arrives in however few files the log
    // writer produced, and Jackson billed to the scan stage would run at
    // file parallelism (measured: a 2-file feed parsed on 2 of 32 cores,
    // 4.3s of a 10s query). Shuffling the raw documents first is one
    // narrow exchange. The partition count must be EXPLICIT: a bare
    // repartition(col) is AQE-coalescible, and the raw-document bytes
    // look small enough (64 MB advisory) that AQE folds the exchange to
    // 1-2 partitions — serializing the parse, whose output is 5-10× the
    // input bytes (measured: 2.8s of a 5s query on one core). r10: the
    // repartition is CONDITIONAL — once the feed is big enough that the
    // scan itself yields >= parallelism splits (maxPartitionBytes
    // binning: ~12 at sf1's 1.5 GB, ~120 at sf10, thousands at cluster
    // scale), the exchange is a pure waste of a full raw-bytes shuffle
    // and is skipped. Partition-count probe is plan-time only, no job.
    val p = feed.sparkSession.sparkContext.defaultParallelism
    val balanced =
      if (feed.rdd.getNumPartitions >= p) feed
      else feed.repartition(p, col("id"))
    balanced
      .select(col("id"),
        from_json(col("document"), ddl(
          "STRUCT<resourceType: STRING, type: STRING, " +
            s"entry: ARRAY<STRUCT<fullUrl: STRING, resource: $resourceSchemaDdl>>>"))
          .as("d"))
      .select(col("id"),
        coalesce(col("d.entry"), array().cast(entryArr)).as("entries"),
        coalesce(col("d.resourceType") === "Bundle" &&
          col("d.type") === "collection", lit(false)).as("is_bundle"))
      .withColumn("n_patient", size(ofType(col("entries"), "Patient")))
      .withColumn("n_encounter", size(ofType(col("entries"), "Encounter")))
      .withColumn("n_specimen", size(ofType(col("entries"), "Specimen")))
      .withColumn("n_observation", size(ofType(col("entries"), "Observation")))
      .withColumn("n_dr", size(ofType(col("entries"), "DiagnosticReport")))
      // every Encounter needs a site-system location (fhir.py:604-620);
      // one without ⇒ the whole bundle is skipped (fhir.py:184-185)
      .withColumn("all_sited", forall(ofType(col("entries"), "Encounter"),
        e => exists(coalesce(resOf(e).getField("location"), array()),
          l => l.getField("location").getField("identifier").getField("system")
            === lit(s"$InternalSystem/site"))))
      .withColumn("skip_reason",
        when(!col("is_bundle"), "error: not a Bundle of type collection")
          .when(col("n_patient") === 0 && col("n_dr") === 0,
            "missing Patient or DiagnosticReport")
          .when(col("n_patient") > 0 && col("n_encounter") === 0,
            "Patient without Encounter")
          .when(col("n_specimen") > 0 && col("n_encounter") > 0 &&
            col("n_observation") < col("n_specimen"),
            "fewer Observations than Specimens")
          .when(col("n_encounter") > 0 && !col("all_sited"),
            "insufficient information to create encounter"))
      .withColumn("status",
        when(col("skip_reason").isNull, "processed")
          .when(col("skip_reason").startsWith("error"), "error")
          .otherwise("skipped"))
      .select("id", "entries", "status", "skip_reason")
  }

  /** Bundle-level validation verdicts only: id, status, skip_reason. */
  def classify(feed: DataFrame): DataFrame =
    parseBundles(feed).select("id", "status", "skip_reason")

  /** The encounter extraction (process_encounter, fhir.py:453-505) over
    * parsed bundles: one output row per Encounter entry of `src` (id +
    * entries [+ `passthrough` columns]); subject / partOf / age resolve
    * against the bundle's own Patient / Encounter / QuestionnaireResponse
    * entries riding along the explode (typically one of each per bundle).
    * With `outer = true` it is posexplode_outer — every SOURCE row keeps
    * at least one output row, null encounter fields when its (gated)
    * encounter array is empty — which is how [[statusesWithEncounters]]
    * renders the statuses⋈encounters report in one pass with no join.
    * `gate` empties the encounter array per row without changing its
    * type (slice(·,1,0) — e.g. "extract only from processed bundles").
    */
  private def encounterDelta(
      src: DataFrame, passthrough: Seq[String], outer: Boolean,
      gate: Option[Column]): DataFrame = {
    val encSys = s"$InternalSystem/encounter"
    val pt = passthrough.map(col)
    val encsAll = ofType(col("entries"), "Encounter")
    val encsCol = gate match {
      case Some(g) => when(g, encsAll).otherwise(slice(encsAll, 1, 0))
      case None => encsAll
    }
    val exploded = if (outer) posexplode_outer(col("encs"))
      else posexplode(col("encs"))
    val encRows = src.select(pt ++ Seq(col("id"),
        encsCol.as("encs"),
        ofType(col("entries"), "Patient").as("pats"),
        ofType(col("entries"), "QuestionnaireResponse").as("qrs")): _*)
      .select(pt ++ Seq(col("id"), col("encs"), col("pats"), col("qrs"),
        exploded.as(Seq("pos", "e"))): _*)
    val encRes = resOf(col("e"))
    // age answers (encounter_age/process_age, fhir.py:710-756): months take
    // precedence within a response; first response with an age wins
    // (entry order — the filtered array preserves it).
    // HOF lambdas are interpreted, never codegen'd: pre-extract each
    // response's (enc_ref, months, years) ONCE via let-binding instead of
    // re-running the item filter up to 5× per response (the nested-HOF
    // re-evaluation trap — and the interpreted hot path is also this
    // JVM's bimodal-slowdown victim, so less interpreted work is both
    // faster and lower-variance).
    def itemAnswer(items: Column, linkId: String): Column =
      try_element_at(filter(items, i => i.getField("linkId") === lit(linkId)),
        lit(1)).getField("answer").getField("valueInteger").getItem(0)
    val qrAges = transform(col("qrs"), q =>
      graft.operators.Dedup.bind(
        coalesce(resOf(q).getField("item"),
          array().cast(ddl("ARRAY<STRUCT<linkId: STRING, " +
            "answer: ARRAY<STRUCT<valueInteger: INT>>>>"))),
        items => struct(
          resOf(q).getField("encounter").getField("reference").as("enc_ref"),
          itemAnswer(items, "age_months").as("months"),
          itemAnswer(items, "age").as("years"))))
    encRows
      // subject → the bundle's Patient (fhir.py:404-409, 563-573)
      .withColumn("subj", resOf(resolve(col("pats"),
        encRes.getField("subject").getField("reference"))))
      // partOf → the referenced encounter's identifier (fhir.py:480-483)
      .withColumn("po", resOf(resolve(col("encs"),
        encRes.getField("partOf").getField("reference"))))
      .withColumn("age",
        graft.operators.Dedup.bind(qrAges, ages =>
          try_element_at(transform(
            filter(ages, a =>
              a.getField("enc_ref") === col("e").getField("fullUrl") &&
                (a.getField("months").isNotNull ||
                  a.getField("years").isNotNull)),
            a => when(a.getField("months").isNotNull,
              concat((a.getField("months") / lit(12.0)).cast("string"),
                lit(" years")))
              .otherwise(concat(a.getField("years").cast("string"),
                lit(" years")))), lit(1))))
      .select(pt ++ Seq(
        col("id"), col("pos"), col("e").getField("fullUrl").as("full_url"),
        identifierFor(encRes.getField("identifier"), encSys).as("identifier"),
        to_timestamp(encRes.getField("period").getField("start"))
          .as("encountered"),
        identifierFor(col("subj").getField("identifier"),
          s"$InternalSystem/individual").as("individual_identifier"),
        when(col("subj").getField("gender") === "unknown", lit(null))
          .otherwise(col("subj").getField("gender")).as("sex"),
        codeFor(
          try_element_at(filter(
            coalesce(col("subj").getField("communication"), array()),
            c => c.getField("preferred")), lit(1)).getField("language"),
          LanguageSystem).as("language"),
        // first site-system location (process_encounter_site, fhir.py:604-620)
        try_element_at(
          filter(coalesce(encRes.getField("location"), array()),
            l => l.getField("location").getField("identifier").getField("system")
              === lit(s"$InternalSystem/site")), lit(1))
          .getField("location").getField("identifier").getField("value")
          .as("site_identifier"),
        col("age"),
        identifierFor(col("po").getField("identifier"), encSys).as("part_of"),
        // reason codes (process_encounter_reason, fhir.py:575-585)
        flatten(transform(coalesce(encRes.getField("reasonCode"), array()),
          c => transform(c.getField("coding"), cd => cd.getField("code"))))
          .as("reason_codes")): _*)
  }

  /** The statuses⋈encounters report in ONE pass (r10): every bundle
    * keeps a row (its validation verdict), processed bundles' Encounter
    * entries attach their extracted fields — the q55 report shape. The
    * r9 gate computed this as `delta.statuses LEFT JOIN
    * delta.encounters`, which at sf10 meant materializing the 15M-row
    * parsed-bundle checkpoint (~30 GB spill), reading it twice, and a
    * corpus×corpus shuffle join; here the parse streams once, unpinned,
    * and the "join" is a posexplode_outer of the bundle's own (gated)
    * encounter array — no shuffle at any scale. Extraction expressions
    * are shared verbatim with [[decompose]] ([[encounterDelta]]).
    */
  def statusesWithEncounters(feed: DataFrame): DataFrame =
    encounterDelta(
      parseBundles(feed),
      passthrough = Seq("status", "skip_reason"),
      outer = true,
      gate = Some(col("status") === "processed"))

  /** Bloom-gated semi-join (guide §3.2, r11): unknown barcodes are
    * DROPPED by the inner identifier join (fhir.py:664-667 — real feeds
    * routinely carry unresolvable barcodes), so the corpus side — the
    * wide one, carrying pa_items — is pre-filtered on "might resolve"
    * BEFORE its exchange with a Bloom filter built over the identifier
    * dim's barcodes as a scalar subquery (one narrow dim scan; the
    * plan's might_contain(scalar-subquery(bloom_filter_agg)) shape).
    * False positives only ride the shuffle and die in the join; no
    * false negatives, so the join result is identical.
    *
    * The gate applies only when the identifier table looks too large to
    * broadcast: the optimized-plan sizeInBytes of the whole `ident` frame
    * above the session's autoBroadcastJoinThreshold. That is a
    * conservative estimate, not Catalyst's own join-selection test: the
    * join sees `ident` after the inferred isnotnull(i_barcode) and the
    * set_name filters, and AQE may still broadcast at run time, so the
    * gate can fire on a join that broadcasts anyway (two wasted jobs per
    * consumer, the same answer). When the table does fit, a broadcast
    * join has no corpus-side exchange to shrink and the gate is skipped.
    * The test is plan-time only, no job.
    *
    * Sizing is fixed: 4M expected items in 2^26 bits (8 MB, the
    * runtime-filter default cap), about 1% false positives at 4M keys and
    * climbing with the key count past that (about 70% at 20M); a false
    * positive only costs its row's trip through the shuffle.
    */
  private def bloomGated(rows: DataFrame, ident: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val qe = ident.queryExecution
    val threshold = qe.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (qe.optimizedPlan.stats.sizeInBytes <= threshold) rows
    else {
      val bloom = ident
        .select(toCol(new BloomFilterAggregate(
            new XxHash64(Seq(toExpr(col("i_barcode")))),
            Literal(4000000L), Literal(1L << 26))
          .toAggregateExpression()).as("bf"))
        .scalar()
      rows.filter(toCol(BloomFilterMightContain(
        toExpr(bloom), new XxHash64(Seq(toExpr(col("barcode")))))))
    }
  }

  /** The decomposed warehouse deltas of one batch of bundles. */
  final case class Delta(
      statuses: DataFrame, // id, status, skip_reason
      sites: DataFrame, // identifier (find_or_create_site, fhir.py:618)
      individuals: DataFrame, // identifier, sex (upsert_individual, fhir.py:590-596)
      encounters: DataFrame, // id, identifier, encountered, individual_identifier, site_identifier, age, language, part_of
      sampleUpdates: DataFrame, // identifier, collection_identifier, collection_date, encounter_identifier, note
      targets: DataFrame, // identifier (find_or_create_target, fhir.py:941-943)
      presenceAbsence: DataFrame) // id, identifier, barcode, snomed, device, present, effective_datetime

  /** Decompose a receiving feed of FHIR bundles into warehouse deltas.
    *
    * @param feed        receiving-shaped frame: id, document
    * @param identifiers the identifier table (find_identifier,
    *                    db/__init__.py:99-124): barcode, uuid, set_name
    * @param samples     current warehouse samples for the DR-path lookup
    *                    (find_sample): identifier, collection_identifier
    */
  def decompose(
      feed: DataFrame,
      identifiers: DataFrame,
      samples: DataFrame): Delta = {
    // Parse once, consume ~8 times: every branch below is a per-row array
    // pipeline over this frame. A LAZY localCheckpoint materializes the
    // parsed bundles as an RDD-level cache on first use — no CacheManager
    // registration (nothing to unpersist by hand: the ContextCleaner
    // reclaims it once the frame is unreachable after GC). Past this line
    // there is zero Jackson and zero intra-bundle shuffle: reference
    // resolution is an array lookup inside the bundle's own row.
    // The checkpoint is NOT optional even for single-branch consumers:
    // unpinned, the parse projection substitutes into downstream HOF
    // lambdas (the q132/q139 projection-collapse trap — pa_items'
    // per-result resolve re-runs Jackson per array element), measured
    // 4× at sf10 (q56 122.5 s unpinned vs 31.4 s pinned, PERF_r10 §4).
    val docs = parseBundles(feed).localCheckpoint(false)
    val statuses = docs.select("id", "status", "skip_reason")
    val ok = docs.filter(col("status") === "processed")
      .select(col("id"), col("entries"))

    val encSys = s"$InternalSystem/encounter"
    val sampleSys = s"$InternalSystem/sample"

    // ---- encounter graph (process_encounter, fhir.py:453-505) ----------
    val encounters = encounterDelta(ok, Nil, outer = false, gate = None)

    val sites = encounters.select(col("site_identifier").as("identifier"))
      .filter(col("identifier").isNotNull).distinct()
    // every Patient of every processed bundle (upsert_individual,
    // fhir.py:590-596), not just those an encounter references
    val individuals = ok
      .select(explode(ofType(col("entries"), "Patient")).as("p"))
      .select(
        identifierFor(resOf(col("p")).getField("identifier"),
          s"$InternalSystem/individual").as("identifier"),
        when(resOf(col("p")).getField("gender") === "unknown", lit(null))
          .otherwise(resOf(col("p")).getField("gender")).as("sex"))
      .filter(col("identifier").isNotNull).distinct()

    // ---- encounter samples (process_encounter_samples, fhir.py:622-708) -
    // Observation is the only Specimen↔Encounter link: obs.encounter →
    // encounter fullUrl, obs.specimen → specimen fullUrl — both resolve
    // inside the bundle; only the barcode lookup is a real join.
    val ident = identifiers.select(
      col("barcode").as("i_barcode"), col("uuid"), col("set_name"))
    val specColl = (s: Column) => s.getField("collection")
    val encSamples = ok.select(col("id"),
        ofType(col("entries"), "Observation").as("obss"),
        ofType(col("entries"), "Encounter").as("encs"),
        ofType(col("entries"), "Specimen").as("specs"))
      .select(col("id"), col("encs"), col("specs"),
        explode(col("obss")).as("o"))
      .select(col("id"), col("encs"), col("specs"),
        resOf(col("o")).getField("encounter").getField("reference")
          .as("enc_ref"),
        // r.specimen is raw-captured (shape conflict, see resourceSchemaDdl):
        // re-parse the few-dozen-byte Reference here, Observation rows only
        from_json(resOf(col("o")).getField("specimen"), specimenRefSchema)
          .getField("reference").as("spec_ref"))
      .filter(col("enc_ref").isNotNull && col("spec_ref").isNotNull)
      .withColumn("enc_e", resOf(resolve(col("encs"), col("enc_ref"))))
      .withColumn("spec_e", resOf(resolve(col("specs"), col("spec_ref"))))
      .filter(col("enc_e").isNotNull && col("spec_e").isNotNull)
      .select(col("id"),
        identifierFor(col("enc_e").getField("identifier"), encSys)
          .as("encounter_identifier"),
        trim(identifierFor(col("spec_e").getField("identifier"), sampleSys))
          .as("barcode"),
        try_element_at(col("spec_e").getField("note"), lit(1))
          .getField("text").as("note"),
        // collectedDateTime || collectedPeriod.start || .end (fhir.py:688-695)
        coalesce(specColl(col("spec_e")).getField("collectedDateTime"),
          specColl(col("spec_e")).getField("collectedPeriod").getField("start"),
          specColl(col("spec_e")).getField("collectedPeriod").getField("end"))
          .as("collection_date"))
      // unknown barcode → skip specimen, not bundle (fhir.py:664-667).
      // Shuffled hash join built on the batch's specimens, the small side,
      // never a broadcast of the identifier table: a broadcast hash
      // relation over string keys holds a whole memory page
      // (spark.buffer.pageSize, 32 MB for a 4 GB driver on 4 cores) until
      // a GC lets the ContextCleaner drop it, which would make the memory
      // a cycle leaves behind depend on GC timing. At warehouse size the
      // identifier table streams past the batch's hash table, unsorted.
      .hint("shuffle_hash")
      .join(ident, col("barcode") === col("i_barcode"), "inner")
      // unexpected set → skip specimen (fhir.py:669-671)
      .filter(col("set_name").isin(expectedCollectionSets ++ expectedSampleSets: _*))
      .select(col("id"), col("encounter_identifier"),
        when(col("set_name").isin(expectedSampleSets: _*), col("uuid"))
          .as("identifier"),
        when(col("set_name").isin(expectedCollectionSets: _*), col("uuid"))
          .as("collection_identifier"),
        to_date(col("collection_date")).as("collection_date"),
        col("note"))

    // ---- DiagnosticReport path (fhir.py:191-257, 896-966) --------------
    // reference.identifier absent → resolve the Specimen resource;
    // present with the internal system → inline barcode; present with any
    // other system → no barcode → continue (fhir.py:204-215).
    // Result Observations are resolved UP FRONT into a small typed array,
    // so the identifier/sample joins below shuffle only narrow columns —
    // never the bundle's entry array.
    val drRows = ok.select(col("id"),
        ofType(col("entries"), "DiagnosticReport").as("drs"),
        ofType(col("entries"), "Specimen").as("specs"),
        ofType(col("entries"), "Observation").as("obss"))
      .select(col("id"), col("specs"), col("obss"),
        posexplode(col("drs")).as(Seq("pos", "dr")))
    val drRes = resOf(col("dr"))
    val drSpec = drRows
      .withColumn("effective_datetime", drRes.getField("effectiveDateTime"))
      // presence-absence fields per result reference (fhir.py:896-966)
      .withColumn("pa_items", transform(
        coalesce(drRes.getField("result"), array()), r => {
          val o = resOf(resolve(col("obss"), r.getField("reference")))
          struct(
            o.isNotNull.as("resolved"),
            codeFor(o.getField("code"), SnomedSystem).as("snomed"),
            o.getField("valueBoolean").as("value_bool"),
            codeFor(o.getField("valueCodeableConcept"), SnomedSystem)
              .as("value_code"),
            o.getField("device").getField("identifier").getField("value")
              .as("device"))
        }))
      // DR's specimen list is the array shape of the raw capture
      .withColumn("sp", explode(coalesce(
        from_json(drRes.getField("specimen"), drSpecimenSchema), array())))
      .withColumn("spec_e", when(col("sp").getField("identifier").isNull,
        resOf(resolve(col("specs"), col("sp").getField("reference")))))
      .withColumn("barcode",
        when(col("sp").getField("identifier").isNotNull &&
          col("sp").getField("identifier").getField("system") === InternalSystem,
          trim(col("sp").getField("identifier").getField("value")))
          .when(col("sp").getField("identifier").isNull,
            trim(identifierFor(col("spec_e").getField("identifier"), sampleSys))))
      .filter(col("barcode").isNotNull) // fhir.py:214-215: no barcode → continue
      .select(col("id"), col("barcode"), col("effective_datetime"),
        col("pa_items"))
    val drResolvable = bloomGated(drSpec, ident)
    val drBarcodes = drResolvable
      .join(ident, col("barcode") === col("i_barcode"), "inner")
      .filter(col("set_name")
        .isin(expectedCollectionSets ++ expectedSampleSets: _*))
      .withColumn("is_collection",
        col("set_name").isin(expectedCollectionSets: _*))

    // find_sample by uuid; missing collection-set samples are created with
    // just the collection identifier (fhir.py:243-255). ONE equi left
    // join (r10): the r9 form left-joined the sample dim twice — once on
    // identifier, once on collection_identifier — shuffling the
    // DR-barcode side (corpus-sized) twice; folding the dim to
    // (key → matched-as-identifier / matched-as-collection flags) first
    // makes it a single join, half the corpus shuffle. Key flags
    // aggregate with max() so a uuid appearing as both keys behaves
    // exactly like the two-join form; sample keys are unique in the
    // reference (find_sample), so the dedup cannot change multiplicity.
    // Never an OR-join (which Spark would plan as a nested loop).
    val sampleKeys = samples.select(col("identifier").as("_k"),
        lit(true).as("_as_ident"), lit(false).as("_as_coll"))
      .unionByName(samples.select(col("collection_identifier").as("_k"),
        lit(false).as("_as_ident"), lit(true).as("_as_coll")))
      .filter(col("_k").isNotNull)
      .groupBy("_k")
      .agg(max(col("_as_ident")).as("_has_ident"),
        max(col("_as_coll")).as("_has_coll"))
    val drWithSample = drBarcodes
      .join(sampleKeys, col("uuid") === col("_k"), "left")
      .withColumn("s_ident",
        when(col("_has_ident"), col("uuid")))
      .withColumn("s_coll",
        when(col("_has_coll"), col("uuid")))
      .withColumn("sample_missing", col("s_ident").isNull && col("s_coll").isNull)
    val drCreatedSamples = drWithSample
      .filter(col("sample_missing") && col("is_collection"))
      .select(lit(null).cast("string").as("identifier"),
        col("uuid").as("collection_identifier"))
      .distinct()

    // presence-absence per result Observation (fhir.py:896-966)
    val pa = drWithSample
      // sample-set barcode with no sample ⇒ SampleNotFoundError — surfaced
      // as a droppable error column rather than a job abort
      .withColumn("sample_not_found", col("sample_missing") && !col("is_collection"))
      .filter(!col("sample_not_found"))
      .select(col("id"), col("barcode"), col("effective_datetime"),
        explode(col("pa_items")).as("it"))
      .filter(col("it").getField("resolved"))
      .withColumn("snomed", col("it").getField("snomed"))
      .withColumn("value_bool", col("it").getField("value_bool"))
      .withColumn("value_code", col("it").getField("value_code"))
      .withColumn("device", col("it").getField("device"))
      .filter(col("snomed").isNotNull) // assert, fhir.py:929
      .filter(col("snomed") =!= "911000124104") // inconclusive, fhir.py:936-937
      .withColumn("present",
        when(col("value_bool").isNotNull, col("value_bool"))
          .when(col("value_code") === "10828004", lit(true))
          .when(col("value_code") === "260385009", lit(false))
          .otherwise(lit(null).cast("boolean"))) // 82334004 / absent
      // Ellume inconclusives are skipped (fhir.py:952-953)
      .filter(!(col("device") === "Ellume" && col("present").isNull))
      .withColumn("identifier",
        concat_ws("/", col("barcode"), col("snomed"), col("device")))

    val targets = pa
      .select(concat(lit(s"$SnomedTerm/"), col("snomed")).as("identifier"))
      .distinct()

    Delta(
      statuses = statuses,
      sites = sites,
      individuals = individuals,
      encounters = encounters,
      sampleUpdates = encSamples.select(
          col("identifier"), col("collection_identifier"),
          col("collection_date"), col("encounter_identifier"), col("note"))
        .unionByName(drCreatedSamples
          .withColumn("collection_date", lit(null).cast("date"))
          .withColumn("encounter_identifier", lit(null).cast("string"))
          .withColumn("note", lit(null).cast("string"))),
      targets = targets,
      presenceAbsence = pa.select(col("id"), col("identifier"), col("barcode"),
        col("snomed"), col("device"), col("present"),
        col("effective_datetime")))
  }
}
