package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Merge, OrderedPrefix, Receiving}

/** The incremental ETL framework (SURVEY.md §2.7-2.8) — the reference's
  * per-feed verb set (id3c lib/id3c/cli/command/etl/__init__.py) as one
  * shuffle-conscious batch engine:
  *
  *   1. select unprocessed by (etl, revision)   — F1
  *   2. parse raw documents, quarantine bad ones — per-record savepoint ≡
  *      classify-don't-abort (etl/fhir.py:116-132)
  *   3. caller transforms parsed rows → warehouse updates
  *   4. batch MERGE into warehouse snapshots    — M2-M6
  *   5. mark ok rows processed, bad rows skipped — M8
  *
  * Everything is a DataFrame transformation: no driver-side row loops, no
  * collect; the only shuffles are the merge joins on the natural keys.
  */
object Etl {

  /** A parsed batch split into ok / quarantined rows. */
  final case class Parsed(ok: DataFrame, skipped: DataFrame)

  /** Parse the raw `document` column with an explicit schema; rows whose
    * document is unparseable (from_json yields null) are quarantined, not
    * fatal — the batch analogue of the reference's per-record savepoint
    * rollback (lib/id3c/db/session.py:89-131).
    */
  def parseDocuments(feed: DataFrame, schema: StructType): Parsed = {
    // from_json (PERMISSIVE) yields a struct of nulls for malformed input,
    // not a null struct — validity comes from get_json_object(doc, '$'),
    // which is null exactly when the document isn't parseable JSON.
    val parsed = feed
      .withColumn("_valid", get_json_object(col("document"), "$").isNotNull)
      .withColumn("doc", from_json(col("document"), schema))
    Parsed(
      ok = parsed.filter(col("_valid") && col("doc").isNotNull).drop("_valid"),
      skipped = parsed.filter(!col("_valid") || col("doc").isNull)
        .drop("_valid", "doc"))
  }

  /** One full incremental cycle over a receiving feed. Returns the updated
    * feed (processing_log appended for every touched row) and the parsed
    * rows handed to the caller's transform.
    *
    * @param process turns parsed ok-rows into whatever warehouse updates
    *                the feed produces; runs exactly once per cycle
    */
  def runCycle(
      feed: DataFrame,
      etlName: String,
      revision: Int,
      schema: StructType)(process: DataFrame => Unit): DataFrame = {
    val pending = Receiving.unprocessed(feed, etlName, revision)
    val Parsed(ok, bad) = parseDocuments(pending, schema)
    process(ok)
    Receiving.markStatuses(feed,
      ok.select(col("id"), lit("processed").as("status"))
        .unionByName(bad.select(col("id"), lit("skipped").as("status"))),
      etlName, revision)
  }

  /** One incremental cycle against the STATUS SIDE-TABLE (the O(batch)
    * path — see Receiving.statusDelta): pending rows come from the
    * anti-join view, and the cycle's only write is the returned status
    * delta (append it with `.write.mode("append")`). The feed itself is
    * never rewritten.
    */
  def runCycleDelta(
      feed: DataFrame,
      statusTable: DataFrame,
      etlName: String,
      revision: Int,
      schema: StructType)(process: DataFrame => Unit): DataFrame = {
    val pending = Receiving.unprocessedVia(feed, statusTable, etlName, revision)
    val Parsed(ok, bad) = parseDocuments(pending, schema)
    process(ok)
    Receiving.statusDelta(ok.select("id"), etlName, revision, "processed")
      .unionByName(
        Receiving.statusDelta(bad.select("id"), etlName, revision, "skipped"))
  }

  /** The lookup-aggregate stage of [[upsertSamples]], exposed (pre-
    * checkpoint) so PlanAuditSpec can pin its single-join shape: ONE
    * tagged-key equi-join of updates against `cur`, matched-row fields
    * carried by the group aggregate.
    */
  private[graft] def matchSamples(cur: DataFrame, updates: DataFrame)
      : DataFrame = {
    // deterministic batch order: the reference processes updates FIFO by
    // row id (db/__init__.py:182-326 runs one statement per row in id
    // order). An `id` column on the updates frame is that ordinal; absent
    // one, the details text itself is the (content-stable) tiebreak —
    // within a (identifier, collection) group that is the only varying
    // field, so the fold order is reproducible across retries and
    // partitionings either way.
    val ordCol =
      if (updates.columns.contains("id")) col("id") else col("details")
    val upd = updates.select(
      col("identifier").as("u_identifier"),
      col("collection_identifier").as("u_collection"),
      col("details").as("u_details"),
      ordCol.as("u_ord"))

    // concat-with-null is null → the filter drops cur rows' absent keys;
    // one scan of the warehouse side, ≤2 key rows per sample
    val curKeyed = cur.select(col("sample_id"), col("identifier"),
        col("collection_identifier"), col("details"),
        explode(array(concat(lit("i:"), col("identifier")),
          concat(lit("c:"), col("collection_identifier")))).as("k"))
      .filter(col("k").isNotNull)
    // one key row per PRESENT update key (an update with one null key
    // probes once, not twice); an update with NO key at all still needs a
    // row to reach the group-by and be created — it gets a single null-k
    // row, which an equi-join never matches but a left join retains.
    // Keyless updates are degenerate input (the reference rejects them),
    // so the null-key shuffle partition carries no skew in practice.
    val updKeys = filter(array(concat(lit("i:"), col("u_identifier")),
      concat(lit("c:"), col("u_collection"))), x => x.isNotNull)
    val updKeyed = upd.select(col("u_identifier"), col("u_collection"),
      col("u_details"), col("u_ord"),
      explode(when(size(updKeys) > 0, updKeys)
        .otherwise(array(lit(null).cast("string")))).as("k"))
    updKeyed.join(curKeyed, Seq("k"), "left")
      .groupBy("u_identifier", "u_collection")
      // sorted sets: the ambiguous pick is the MIN matched id and details
      // fold in update order — stable under shuffle.partitions changes
      .agg(array_sort(collect_set(col("sample_id"))).as("matches"),
        array_sort(collect_set(struct(col("u_ord").as("o"),
          col("u_details").as("d")))).as("_upds"),
        // the MIN-id matched row's own fields, captured here so the final
        // projection needs no join back on the resolved sample_id (the
        // r9 third scan+shuffle of `current`); unmatched rows carry an
        // all-null struct ranked after every real id, so a group with
        // any match picks the real min and an all-miss group yields the
        // null fields the old left-join miss produced
        min_by(struct(col("identifier"), col("collection_identifier"),
            col("details")),
          coalesce(col("sample_id"), lit(Long.MaxValue))).as("_cur"))
      // same-batch same-key updates all apply, in order, each merging
      // shallowly over the previous (the reference's sequential UPDATEs).
      // One codegen fold over the struct-field array — the previous
      // `aggregate(...)` HOF ran the merge UDF interpreted per element.
      .withColumn("u_details",
        graft.functions.jsonbMergeFold(col("_upds").getField("d")))
      .drop("_upds")
      .withColumn("ambiguous", size(col("matches")) > 1)
      .withColumn("sample_id", try_element_at(col("matches"), lit(1)))

  }

  /** M4 — `upsert_sample` semantics (reference lib/id3c/db/__init__.py:
    * 182-326): updates match current rows on `identifier` OR
    * `collection_identifier`; ambiguous (two different current rows) is an
    * error surfaced as a column; unmatched rows are created with fresh
    * surrogate ids; `details` documents merge shallowly (C11) rather than
    * overwrite.
    *
    * @param updateIdentifiers mirror of the reference's
    *   `update_identifiers` flag (db/__init__.py:285-289): when true, a
    *   matched row's identifier AND collection_identifier are overwritten
    *   with the update's values (even if one is null); when false they are
    *   left exactly as stored. Created rows always take the update's
    *   values.
    *
    * The OR-match is ONE tagged-key equi-join (never an OR-join, which
    * Spark would plan as a nested loop): both sides unpivot to a
    * prefix-tagged key ("i:" ‖ identifier, "c:" ‖ collection_identifier)
    * and the matched row's own fields ride the join into the group
    * aggregate via `min_by`, so the big `current` side is scanned once
    * and shuffled once (r9 shape: two lookup joins + a third join back
    * on the resolved sample_id — 4 scans / 3 shuffles of the warehouse
    * side). Updates probe once per PRESENT key; a keyless update keeps a
    * single null-key row (never matches, left-join-retained) so it still
    * reaches creation.
    */
  def upsertSamples(
      current: DataFrame, // sample_id, identifier, collection_identifier, details
      updates: DataFrame, // identifier, collection_identifier, details
      updateIdentifiers: Boolean = false
  ): DataFrame = {
    val cur = current.select(
      col("sample_id"), col("identifier"), col("collection_identifier"),
      col("details"))
    val matched = matchSamples(cur, updates)
    val maxId = cur.agg(coalesce(max(col("sample_id")), lit(0L))).head().getLong(0)
    // consumed by both sides of the is_new split (and allocateIds runs an
    // RDD pass of its own) — materialize the match pipeline once
    val withIds = matched.withColumn("is_new", col("sample_id").isNull)
      .localCheckpoint(false)
    val created = Merge.allocateIds(
      withIds.filter(col("is_new")), "sample_id", maxId,
      orderBy = Seq("u_identifier", "u_collection"))
    val resolved = withIds.filter(!col("is_new")).unionByName(created)

    // merge details shallowly into the current row's details (C11);
    // identifiers follow the update_identifiers flag for matched rows.
    // The matched row's fields were captured in `_cur` by the lookup
    // aggregate — no join back on sample_id (created rows' _cur fields
    // are null, exactly the old left-join miss)
    val updatedIdent =
      if (updateIdentifiers) col("u_identifier")
      else when(col("is_new"), col("u_identifier"))
        .otherwise(col("_cur.identifier"))
    val updatedColl =
      if (updateIdentifiers) col("u_collection")
      else when(col("is_new"), col("u_collection"))
        .otherwise(col("_cur.collection_identifier"))
    resolved.select(
      col("sample_id"),
      updatedIdent.as("identifier"),
      updatedColl.as("collection_identifier"),
      graft.functions.jsonbMergeShallow(col("_cur.details"), col("u_details"))
        .as("details"),
      col("ambiguous"))
  }

  /** F2 — containment routing (reference etl/redcap_det.py:127-135): route
    * documents to named handlers by matching top-level JSON fields.
    */
  def routeByContainment(
      feed: DataFrame,
      routes: Seq[(String, Map[String, String])]): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // one Jackson parse for the union of routing keys: a get_json_object
    // per (route × field) re-parses the document each time — at feed scale
    // the parse IS the routing cost, so it must happen exactly once/row
    val keys = routes.flatMap(_._2.keys).distinct
    val parsed = from_json(col("document"),
      StructType(keys.map(k => StructField(k, StringType))))
    val routeCol = graft.operators.Dedup.bind(parsed, p =>
      routes.foldRight(lit(null).cast("string")) {
        case ((name, fields), els) =>
          val cond = fields.map { case (k, v) =>
            p.getField(k) === lit(v)
          }.reduce(_ && _)
          when(cond, lit(name)).otherwise(els)
      })
    feed.withColumn("route", routeCol)
  }

  /** A7 — first-DET-per-record dedup with repeat marking (reference
    * etl/redcap_det.py:137-175): the first row per record (in id order) is
    * kept as primary; later ones are marked "repeat" rather than dropped.
    */
  def markRepeats(feed: DataFrame, recordKey: Column, orderBy: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(recordKey).orderBy(orderBy)
    feed.withColumn("det_status",
      when(row_number().over(w) === 1, "primary").otherwise("repeat"))
  }

  /** The location import pipeline composed end-to-end (reference
    * cli/command/location.py:63-230 → upsert_location,
    * cli/command/location.py:247-292): each feature's (scale, identifier)
    * pair is added to its own hierarchy (location.py:136-139, self wins on
    * key collision), a missing point defaults from the polygon — centroid
    * when the polygon covers it, else a point guaranteed on the boundary
    * (the first vertex; the reference trigger uses st_pointonsurface,
    * warehouse/location/triggers/point-default-from-polygon.sql:8-24) —
    * and matched rows hstore-merge their hierarchy over the current one
    * (new keys win, hstore `||`).
    *
    * @param features identifier, scale, hierarchy (hstore text),
    *                 point (struct&lt;x,y&gt;, nullable),
    *                 polygon (ring array&lt;struct&lt;x,y&gt;&gt;, nullable)
    * @param current  identifier, hierarchy (hstore text) — the warehouse
    *                 location table
    *
    * Scale: defaulting is per-row column math (no geometry library, no
    * UDF); the only shuffle is the upsert equi-join on identifier.
    */
  def importLocations(features: DataFrame, current: DataFrame): DataFrame = {
    import graft.functions.{hstoreMerge, hstoreParse}
    import graft.functions.Geo
    import graft.operators.Dedup.bind
    // let-bind the centroid: passing the raw aggregate expression into
    // pointInPolygon would splice it into the per-edge crossing-test
    // lambda, re-computing the centroid sum once per polygon edge (the
    // interpreted-HOF trap — measured 8× expression blow-up in the plan)
    val defaultedPoint = when(col("polygon").isNotNull,
      bind(Geo.ringCentroid(col("polygon")), cen =>
        when(Geo.pointInPolygon(cen.getField("x"), cen.getField("y"),
          col("polygon")), cen)
          .otherwise(element_at(col("polygon"), 1))))
    val defaulted = features
      .withColumn("h_new", hstoreMerge(hstoreParse(col("hierarchy")),
        map(col("scale"), col("identifier"))))
      .withColumn("point", coalesce(col("point"), defaultedPoint))
    defaulted
      .join(current.select(col("identifier"),
          hstoreParse(col("hierarchy")).as("h_cur")),
        Seq("identifier"), "left")
      .withColumn("hierarchy", hstoreMerge(col("h_cur"), col("h_new")))
      .select("identifier", "scale", "hierarchy", "point", "polygon")
  }

  /** S7 — the paged record fetch (reference redcap.py:327-360,
    * `_fetch_records_paged`) over a LOCAL api fixture (the REST egress
    * itself is out of scope, zero egress): pages tile the auto-numbered
    * record-id space `[1, nextRecordId)` in `pageSize` strides, and the
    * LAST page has no upper bound, so records created after pagination
    * begins are still caught (redcap.py:337-344). `nextRecordId` defaults
    * to max(id)+1 of the fixture — the `generateNextRecordName` probe
    * (redcap.py:332-335); pass the probe's snapshot explicitly to model
    * records arriving mid-drain. Returns the fixture rows tagged with
    * their 1-based `page`: (page, id) is exactly the order the
    * reference's iterator yields them, so FIFO consumers sort on it.
    *
    * Scale: one tiny max() aggregate, then a pure per-row page formula —
    * the fixture is never shuffled.
    */
  def pagedFetch(
      fixture: DataFrame, idCol: String, pageSize: Int,
      nextRecordId: Option[Long] = None): DataFrame = {
    require(pageSize > 0, s"pageSize $pageSize must be positive")
    val next = nextRecordId.getOrElse(
      fixture.agg(coalesce(max(col(idCol)), lit(0L)).cast("long"))
        .head().getLong(0) + 1)
    if (next <= 1) // pages = range(1, next, size) is empty: nothing to drain
      return fixture.withColumn("page", lit(null).cast("int")).limit(0)
    val lastPage = (next - 2) / pageSize // 0-based index of the unbounded page
    fixture.filter(col(idCol) >= 1) // ids below every page's lower bound
      .withColumn("page",
        (least(floor((col(idCol) - 1) / pageSize), lit(lastPage)) + 1)
          .cast("int"))
  }

  /** S7 — the DET-driven batched record fetch (reference
    * redcap_det.py:180-198): loaded DETs' record ids are drained in FIFO
    * order (by DET id — `first_complete_dets` preserves first-seen order)
    * and chunked into `batchSize` api requests. Returns the input tagged
    * with (batch, batch_pos), the exact drain order.
    *
    * The global FIFO rank is an [[OrderedPrefix.sums]] over id buckets,
    * not a single-partition window.
    */
  def fetchBatches(
      loaded: DataFrame, idCol: String, batchSize: Int = 5000): DataFrame = {
    require(batchSize > 0, s"batchSize $batchSize must be positive")
    OrderedPrefix.sums(loaded, OrderedPrefix.idBucket(col(idCol)),
        Seq(col(idCol)), Seq("_rk" -> lit(1L)))
      .withColumn("batch", (floor(col("_rk") / batchSize) + 1).cast("int"))
      .withColumn("batch_pos", (col("_rk") % batchSize + 1).cast("int"))
      .drop("_rk", "_rk_total")
  }

  /** The redcap_det ETL pipeline composed end-to-end (reference
    * etl/redcap_det.py:119-280): select DETs whose document contains the
    * routine's (redcap_url, project_id) — FIFO by id with an optional
    * det_limit (:127-135); skip DETs whose instrument isn't marked
    * complete (:153-161; is_complete, redcap.py:693-721: the
    * `<instrument>_complete` field ∈ {Complete, 2, "2"}, a missing field
    * is not complete); the FIRST complete DET per REDCap record wins and
    * later ones skip as repeats (:163-175, FIFO semantics); survivors
    * load (mark_loaded :229-230 — the REDCap API fetch and per-project
    * routine are out of scope, zero egress).
    *
    * Returns one disposition row per selected DET — exactly what
    * mark_loaded/mark_skipped append to processing_log (sans timestamp):
    * id, record, instrument, status ∈ (loaded|skipped), reason. Feed it
    * to [[Receiving.statusDelta]] / [[Receiving.markStatuses]] to
    * persist.
    *
    * Scale: routing and completeness are per-row; the repeat window
    * partitions by REDCap record id (fine-grained, no skew); the FIFO
    * limit plans as TakeOrdered (no global sort materialization).
    */
  def redcapDetDispositions(
      feed: DataFrame,
      redcapUrl: String,
      projectId: String,
      detLimit: Option[Int] = None,
      includeIncomplete: Boolean = false): DataFrame = {
    val m = from_json(col("document"),
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType))
    val routed = routeByContainment(feed,
      Seq("det" -> Map("redcap_url" -> redcapUrl, "project_id" -> projectId)))
      .filter(col("route") === "det").drop("route")
    val limited = detLimit.fold(routed)(n => routed.orderBy("id").limit(n))
    val flagged = limited
      .withColumn("record", element_at(m, lit("record")))
      .withColumn("instrument", element_at(m, lit("instrument")))
      .withColumn("eligible",
        if (includeIncomplete) lit(true)
        else coalesce(
          element_at(m, concat(col("instrument"), lit("_complete")))
            .isin("Complete", "2"), lit(false)))
    // first complete DET per record loads; later complete ones are
    // repeats; incomplete ones skip WITHOUT claiming the record. One pass:
    // "am I the first eligible row of my record" is a windowed count of
    // eligible predecessors — splitting into complete/incomplete branches
    // and unioning would execute the routed+limited subtree twice.
    import org.apache.spark.sql.expressions.Window
    val priors = Window.partitionBy(col("record")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val priorEligible = coalesce(
      sum(when(col("eligible"), 1L).otherwise(0L)).over(priors), lit(0L))
    flagged
      .withColumn("status",
        when(col("eligible") && priorEligible === 0, "loaded")
          .otherwise("skipped"))
      .withColumn("reason",
        when(!col("eligible"), "incomplete/unverified DET")
          .when(col("status") === "skipped", "repeat REDCap record"))
      .select("id", "record", "instrument", "status", "reason")
  }
}
