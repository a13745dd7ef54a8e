package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.etl.FhirEtl
import graft.operators.{Barcodes, Receiving}
import graft.shipping.Views

/** Thin command-line face mirroring the reference's CLI groups (id3c
  * `receive` / `etl <feed>` / `manifest diff` / `identifier mint` /
  * `refresh-materialized-view` — SURVEY.md §7 item 7). Each command is a
  * few lines of wiring over the library operators; all dataflow lives in
  * `graft.operators` / `graft.etl` / `graft.shipping`.
  *
  * Dry-run semantics mirror the reference's `--dry-run/--commit` switch
  * (id3c cli/command/__init__.py:89-110): the full pipeline runs — same
  * reads, same shuffles, same validation — and only the final atomic
  * snapshot swap is skipped ([[Receiving.snapshotSwap]]).
  *
  * Usage:
  * {{{
  * graft.Cli receive      <feedDir> <ndjsonFile>
  * graft.Cli etl-fhir     <feedDir> <identifiersDir|-> <samplesDir|-> <outDir> [--dry-run]
  * graft.Cli manifest-diff <oldNdjson> <newNdjson> <outDir>
  * graft.Cli mint         <existingDir|-> <count> <outDir> [seed]
  * graft.Cli refresh-view <warehouseDir> <pa_v1|pa_v2> <outDir> [--dry-run]
  * graft.Cli explain      <query-name> <sfDir> [--simple]
  * }}}
  */
object Cli {

  def main(args: Array[String]): Unit = args.toList match {
    case "receive" :: feedDir :: ndjson :: Nil =>
      val spark = Sessions.getOrCreate()
      receive(spark, feedDir, ndjson)
      spark.stop()
    case "etl-fhir" :: feedDir :: identDir :: samplesDir :: outDir :: rest =>
      val spark = Sessions.getOrCreate()
      etlFhir(spark, feedDir, identDir, samplesDir, outDir,
        dryRun = rest.contains("--dry-run"))
      spark.stop()
    case "manifest-diff" :: oldPath :: newPath :: outDir :: Nil =>
      val spark = Sessions.getOrCreate()
      manifestDiff(spark, oldPath, newPath, outDir)
      spark.stop()
    case "mint" :: existingDir :: count :: outDir :: rest =>
      val spark = Sessions.getOrCreate()
      mint(spark, existingDir, count.toInt, outDir, rest.headOption.map(_.toLong))
      spark.stop()
    case "refresh-view" :: whDir :: view :: outDir :: rest =>
      val spark = Sessions.getOrCreate()
      refreshView(spark, whDir, view, outDir, dryRun = rest.contains("--dry-run"))
      spark.stop()
    case "get-sample" :: identDir :: samplesDir :: barcode :: rest =>
      val spark = Sessions.getOrCreate()
      val rows = getSample(spark, identDir, samplesDir, barcode,
        byCollection = rest.contains("--collection"))
      rows.foreach(println)
      spark.stop()
      if (rows.isEmpty) {
        System.err.println(s"sample not found: $barcode")
        sys.exit(1)
      }
    case "explain" :: name :: sfDir :: rest =>
      val spark = Sessions.getOrCreate()
      explain(spark, name, sfDir, formatted = !rest.contains("--simple"))
        .foreach(println)
      spark.stop()
    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println(
        "commands: receive | etl-fhir | manifest-diff | mint | refresh-view | get-sample | explain")
      sys.exit(2)
  }

  /** Plan inspection for any gate query — `EXPLAIN (FORMATTED)` as a CLI
    * verb, the review tool behind PlanAuditSpec's pinned shapes: prints
    * the executed plan so a scan that lost `PushedFilters`, a join that
    * lost its broadcast, or a window that went constant-key is visible
    * without writing a spec first. Returns the plan text lines (also
    * printed), or an error line listing valid names.
    */
  def explain(spark: SparkSession, name: String, sfDir: String,
      formatted: Boolean): Seq[String] =
    SparkEntry.queries.get(name) match {
      case None =>
        Seq(s"unknown query: $name",
          s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      case Some(q) =>
        val df = q(spark, sfDir)
        val text =
          if (formatted) df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          else df.queryExecution.executedPlan.toString
        text.linesIterator.toSeq
    }

  /** S1/S2 — append NDJSON documents to a receiving table, ids continuing
    * after the current maximum (the reference's bigserial).
    */
  def receive(spark: SparkSession, feedDir: String, ndjson: String): Unit = {
    val existing = Receiving.openSnapshot(spark, feedDir, Receiving.schema)
    val startId = existing.map(
      _.agg(coalesce(max(col("id")), lit(0L))).head().getLong(0)).getOrElse(0L)
    val fresh = Receiving.fromDocuments(
      spark.read.text(ndjson).withColumnRenamed("value", "document"),
      "document", startId)
    val merged = existing.map(_.unionByName(fresh)).getOrElse(fresh)
    Receiving.snapshotSwap(merged, feedDir)
  }

  /** The FHIR ETL cycle: unprocessed → decompose → stage the seven
    * deltas and the marked feed → swap them in, the feed last.
    *
    * All eight outputs go through one [[Receiving.snapshotSwap]] call:
    * they are written to their staging directories at the same time, and
    * nothing is renamed into place until every write has succeeded. The
    * marked feed is swapped in last, so its rename is the cycle's commit
    * point. A cycle whose write fails swaps nothing in and leaves the feed
    * unmarked; re-running it re-derives the same deltas. A crash between
    * two renames can leave some deltas swapped in with the feed still
    * unmarked; the next cycle then rewrites them from the same documents.
    */
  def etlFhir(spark: SparkSession, feedDir: String, identDir: String,
      samplesDir: String, outDir: String, dryRun: Boolean): Unit = {
    val feed = Receiving.openSnapshot(spark, feedDir, Receiving.schema)
      .getOrElse(throw new java.io.FileNotFoundException(s"no feed at $feedDir"))
    val pending = Receiving.unprocessed(feed, FhirEtl.EtlName, FhirEtl.Revision)
    val idents = readOrEmpty(spark, identDir, IdentifierSchema)
    val samples = readOrEmpty(spark, samplesDir, SampleKeySchema)
    val delta = FhirEtl.decompose(pending, idents, samples)
    val deltas = Seq("sites" -> delta.sites,
      "individuals" -> delta.individuals, "encounters" -> delta.encounters,
      "sample_updates" -> delta.sampleUpdates, "targets" -> delta.targets,
      "presence_absence" -> delta.presenceAbsence,
      "statuses" -> delta.statuses)
      .map { case (name, df) => df -> s"$outDir/$name" }
    // errors are quarantined as skipped, like the reference's mark_skipped
    val statuses = delta.statuses.select(col("id"),
      when(col("status") === "processed", "processed").otherwise("skipped")
        .as("status"))
    val marked =
      Receiving.markStatuses(feed, statuses, FhirEtl.EtlName, FhirEtl.Revision)
    // the marked feed goes last: its rename commits the cycle
    Receiving.snapshotSwap(deltas :+ (marked -> feedDir), dryRun)
  }

  /** J11 — manifest diff: records of `new` whose provenance-excluded deep
    * hash is absent from `old` (reference cli/command/manifest.py:396-436).
    */
  def manifestDiff(spark: SparkSession, oldPath: String, newPath: String,
      outDir: String): Unit = {
    def hashed(path: String): DataFrame = {
      val df = spark.read.json(path)
      val cols = df.columns.filterNot(_.startsWith("_provenance")).sorted
      df.withColumn("_h",
        graft.functions.deepHash(cols.toSeq.map(c => col(c))))
    }
    hashed(newPath)
      .join(hashed(oldPath).select(col("_h")), Seq("_h"), "left_anti")
      .drop("_h")
      .write.mode("overwrite").json(outDir)
  }

  /** M9 — mint identifiers against an existing barcode table. */
  def mint(spark: SparkSession, existingDir: String, n: Int, outDir: String,
      seed: Option[Long]): Unit = {
    import spark.implicits._
    val existing =
      if (existingDir == "-") Seq.empty[String].toDF("code")
      else spark.read.parquet(existingDir).select(col("code"))
    val (minted, stats) = Barcodes.mintWithStats(
      spark, existing, n, seed = seed)
    minted.write.mode("overwrite").parquet(outDir)
    // the reference's only self-instrumentation: per-run mint stats
    // (schema/deploy/functions/mint_identifiers.sql:40-49)
    System.err.println(s"[mint] $stats")
  }

  /** M11 — re-materialize a shipping view from warehouse parquet tables
    * (sample / presence_absence / target / organism under `whDir`).
    */
  def refreshView(spark: SparkSession, whDir: String, view: String,
      outDir: String, dryRun: Boolean): Unit = {
    def t(n: String) = spark.read.parquet(s"$whDir/$n")
    val df = view match {
      case "pa_v1" =>
        Views.presenceAbsenceResultV1(t("sample"), t("presence_absence"), t("target"))
      case "pa_v2" =>
        Views.presenceAbsenceResultV2(t("sample"), t("presence_absence"),
          t("target"), t("organism"))
      case other => sys.error(s"unknown view: $other (pa_v1 | pa_v2)")
    }
    Receiving.snapshotSwap(df, outDir, dryRun)
  }

  /** API point-read face — `GET /warehouse/sample/<barcode>`
    * (reference lib/id3c/api/routes.py:295-323): resolve the barcode to its
    * identifier uuid, then fetch the sample keyed by `identifier` (or by
    * `collection_identifier` with `--collection`, mirroring the
    * `/sample/collection/<barcode>` route). The barcode equality filter is
    * pushed to the parquet scan on both tables, so the "query" is a
    * partition-pruned point lookup, not a shuffle. Returns the matching
    * sample rows as JSON strings (empty → the CLI reports 404-equivalent).
    */
  def getSample(spark: SparkSession, identDir: String, samplesDir: String,
      barcode: String, byCollection: Boolean): Seq[String] = {
    val uuids = spark.read.parquet(identDir)
      .filter(col("barcode") === barcode)
      .select(col("uuid"))
    val key = if (byCollection) "collection_identifier" else "identifier"
    spark.read.parquet(samplesDir)
      .join(broadcast(uuids), col(key) === col("uuid"), "left_semi")
      .toJSON.collect().toSeq
  }

  // The tables an ETL cycle reads, each with only the columns it uses.
  // Reading parquet with a given schema skips schema inference, which
  // would otherwise run one footer-reading job per table per cycle.
  private val IdentifierSchema = StructType(
    Seq("barcode", "uuid", "set_name").map(StructField(_, StringType)))
  private val SampleKeySchema = StructType(
    Seq("identifier", "collection_identifier").map(StructField(_, StringType)))

  /** The table at `dir`, or an empty one for `-`. */
  private def readOrEmpty(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    if (dir == "-") spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(dir)
}
