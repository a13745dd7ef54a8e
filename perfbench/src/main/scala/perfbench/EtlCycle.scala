package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Cli
import graft.etl.FhirEtl

import perfbench.Main.{Args, Op, errorText, scrub, timed}

/** The receiving → FHIR ETL cron cycle, the only workload that writes.
  *
  * Set-up generates, from the seed, the NDJSON of [[EtlCycle.Cycles]]
  * deliveries and an identifier table. Delivery 0 is a backlog of new
  * bundles; each later delivery mixes new bundles, re-delivered unchanged
  * bundles, revised bundles (same encounter, changed content) and
  * malformed documents. One round replays every delivery, in order,
  * against a fresh receiving feed; an operation is one cycle:
  * `graft.Cli.receive` (append the delivery to the feed) then
  * `graft.Cli.etlFhir` (unprocessed → decompose → write deltas → mark
  * processed or skipped → snapshot swap). Each cycle writes its deltas
  * to a directory of its own, as a warehouse loader would consume them.
  *
  * The untimed warm-up round's outputs are checked: every received id
  * carries exactly one fhir status, the skipped documents are exactly the
  * malformed ones, and each cycle's encounter, individual and sample
  * deltas equal what the generator implies.
  */
final class EtlCycle(spark: SparkSession, a: Args) extends Main.Workload {
  import EtlCycle._

  private val root = s"${a.work}/etl"
  private val gen = new Generator(new Random(a.seed))
  private val deliveries: Seq[Seq[Doc]] =
    (0 until Cycles).map(c => gen.delivery(if (c == 0) Backlog else PerCycle))
  private val ndjson: Seq[String] = deliveries.zipWithIndex.map { case (ds, c) =>
    val f = new File(s"$root/input/delivery-$c.ndjson")
    f.getParentFile.mkdirs()
    Files.write(f.toPath, ds.map(_.text).mkString("", "\n", "\n").getBytes(UTF_8))
    f.getPath
  }
  private val identDir = s"$root/input/identifiers"
  spark.createDataFrame(
    gen.identifiers.toSeq.map { case (b, u) => Row(b, u, "samples") }.asJava,
    StructType(Seq("barcode", "uuid", "set_name")
      .map(StructField(_, StringType))))
    .coalesce(1).write.mode("overwrite").parquet(identDir)

  val ops: Seq[String] = (0 until Cycles).map(c => f"cycle_$c%02d")
  override def order(rng: Random): Seq[String] = ops

  private var round = 0
  private def dir = s"$root/round-$round"
  private val feedBytes = ArrayBuffer[Long]()
  private val problems = ArrayBuffer[String]()
  private val counts = scala.collection.mutable.Map[String, Long]()
  private var storedBytes = 0L

  def run(name: String): Op = {
    val c = ops.indexOf(name)
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val (parts, error) =
      try {
        val (_, receiveS) = timed(Cli.receive(spark, s"$dir/feed", ndjson(c)))
        val (_, etlS) = timed(Cli.etlFhir(spark, s"$dir/feed", identDir, "-",
          f"$dir/delta/cycle_$c%02d", dryRun = false))
        (Seq("receive_s" -> receiveS, "etl_fhir_s" -> etlS), None)
      } catch { case e: Throwable => (Nil, Some(errorText(e))) }
    val op = Op(name, startMs, System.currentTimeMillis(),
      (System.nanoTime() - t) / 1e9, parts, error)
    scrub(spark)
    op
  }

  /** Each round replays the deliveries against a feed of its own. */
  override def afterRound(): Unit = {
    deleteTree(new File(dir))
    round += 1
  }

  /** The warm-up pass: one round, untimed, whose outputs are then checked
    * and measured. */
  def warmUp(): Unit = {
    ops.foreach { name =>
      run(name).error.foreach(e => problems += s"$name: $e")
      feedBytes += dirBytes(new File(s"$dir/feed"))
    }
    storedBytes = dirBytes(new File(s"$dir/feed")) +
      dirBytes(new File(s"$dir/delta"))
    if (problems.isEmpty)
      try check()
      catch { case e: Throwable => problems += errorText(e) }
    afterRound()
  }

  def verify(): Map[String, String] =
    if (problems.isEmpty) Map.empty
    else Map("etl_check" -> problems.take(5).mkString("; "))

  private def check(): Unit = {
    val all = deliveries.flatten
    val statuses = spark.read.parquet(s"$dir/feed")
      .select(col("id"), col("document"),
        filter(col("processing_log"), l =>
          l.getField("etl") === FhirEtl.EtlName &&
            l.getField("revision") === FhirEtl.Revision).as("log"))
      .select(col("id"), col("document"), size(col("log")).as("n"),
        col("log").getItem(0).getField("status").as("status"))
      .collect()
    if (statuses.length != all.size)
      problems += s"feed holds ${statuses.length} rows, ${all.size} received"
    val multi = statuses.count(_.getInt(2) != 1)
    if (multi > 0) problems += s"$multi ids without exactly one fhir status"
    def docsWith(s: String) =
      statuses.filter(_.getString(3) == s).map(_.getString(1)).toSeq.sorted
    val malformed = all.filter(_.model.isEmpty).map(_.text).sorted
    if (docsWith("skipped") != malformed)
      problems += "skipped documents differ from the generated malformed ones"
    if (docsWith("processed") != all.filter(_.model.nonEmpty).map(_.text).sorted)
      problems += "processed documents differ from the generated bundles"
    counts("docs_pending") = all.size.toLong
    counts("docs_processed") = docsWith("processed").size.toLong
    counts("docs_skipped") = docsWith("skipped").size.toLong

    deliveries.zipWithIndex.foreach { case (ds, c) =>
      val delta = f"$dir/delta/cycle_$c%02d"
      val ms = ds.flatMap(_.model)
      def rows(df: DataFrame): Seq[String] =
        df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
      def expect(table: String, got: Seq[String], want: Seq[String]): Unit =
        if (got != want.sorted)
          problems += s"cycle $c $table delta: ${got.size} rows, expected ${want.size}"
      expect("encounters", rows(spark.read.parquet(s"$delta/encounters")
        .select(col("identifier"), col("individual_identifier"), col("sex"),
          col("site_identifier"), unix_timestamp(col("encountered")))),
        ms.map(m => Seq(m.encounter, m.individual, m.sex, m.site, m.startEpoch)
          .mkString("|")))
      expect("individuals", rows(spark.read.parquet(s"$delta/individuals")
        .select(col("identifier"), col("sex"))),
        ms.map(m => s"${m.individual}|${m.sex}").distinct)
      expect("sample_updates", rows(spark.read.parquet(s"$delta/sample_updates")
        .select(col("identifier"), col("encounter_identifier"),
          col("collection_date").cast("string"))),
        ms.flatMap(m => gen.identifiers.get(m.barcode)
          .map(u => s"$u|${m.encounter}|${m.collected}")))
    }
  }

  def facts: Map[String, Any] = Map(
    "input_bytes" -> ndjson.map(p => new File(p).length).sum,
    "stored_bytes" -> storedBytes,
    "feed_bytes_by_cycle" -> feedBytes.toSeq) ++ counts
}

object EtlCycle {
  /** Deliveries per round: a backlog, then incremental deltas. */
  val Cycles = 2
  val Backlog = 400
  val PerCycle = 150

  /** What a well-formed bundle must decompose into. */
  final case class Model(encounter: String, individual: String, sex: String,
      site: String, startEpoch: Long, barcode: String, collected: String)

  /** One received document; `model` is None for a malformed one. */
  final case class Doc(text: String, model: Option[Model])

  final class Generator(rng: Random) {
    private val sent = ArrayBuffer[Doc]()
    private var next = 0
    /** barcode → identifier uuid, set "samples"; one bundle in five
      * carries a barcode outside it (the specimen is skipped, the bundle
      * still processed). */
    val identifiers = scala.collection.mutable.LinkedHashMap[String, String]()

    private def hex(n: Int) = (1 to n).map(_ => "0123456789abcdef"(rng.nextInt(16))).mkString

    private def fresh(): Model = {
      next += 1
      val barcode = hex(8)
      if (rng.nextInt(5) != 0) identifiers(barcode) = java.util.UUID.nameUUIDFromBytes(
        barcode.getBytes(UTF_8)).toString
      val day = rng.nextInt(365)
      val start = 1577836800L + day * 86400L + rng.nextInt(86400)
      Model(f"enc-$next%06d", s"ind-${rng.nextInt(next / 2 + 1)}",
        if (rng.nextBoolean()) "female" else "male", s"site-${rng.nextInt(40)}",
        start, barcode, java.time.LocalDate.ofEpochDay(start / 86400).toString)
    }

    private def revise(m: Model): Model = {
      val start = m.startEpoch + 3600 + rng.nextInt(86400)
      m.copy(sex = if (m.sex == "female") "male" else "female",
        site = s"site-${rng.nextInt(40)}", startEpoch = start,
        collected = java.time.LocalDate.ofEpochDay(start / 86400).toString)
    }

    private def malformed(): String = rng.nextInt(3) match {
      case 0 => """{"resourceType":"Bundle","type":"collection","entry":[{"fullUrl":""" + "\"urn:uuid:" + hex(12)
      case 1 => s"""{"resourceType":"Patient","id":"${hex(12)}"}"""
      case _ => s"not json ${hex(16)}"
    }

    def delivery(n: Int): Seq[Doc] = {
      val valid = sent.filter(_.model.nonEmpty)
      val docs = (0 until n).map { _ =>
        val k = if (valid.isEmpty) 0 else rng.nextInt(10)
        val d =
          if (k < 5) bundle(fresh())
          else if (k < 7) valid(rng.nextInt(valid.size))
          else if (k < 9) bundle(revise(valid(rng.nextInt(valid.size)).model.get))
          else Doc(malformed(), None)
        d
      }
      sent ++= docs
      docs
    }

    private def bundle(m: Model): Doc = {
      val t = java.time.Instant.ofEpochSecond(m.startEpoch).toString
      val text =
        s"""{"resourceType":"Bundle","type":"collection","entry":[""" +
        s"""{"fullUrl":"urn:uuid:p-${m.encounter}","resource":{"resourceType":"Patient","gender":"${m.sex}",""" +
        s""""identifier":[{"system":"https://seattleflu.org/individual","value":"${m.individual}"}]}},""" +
        s"""{"fullUrl":"urn:uuid:e-${m.encounter}","resource":{"resourceType":"Encounter",""" +
        s""""identifier":[{"system":"https://seattleflu.org/encounter","value":"${m.encounter}"}],""" +
        s""""period":{"start":"$t"},"subject":{"reference":"urn:uuid:p-${m.encounter}"},""" +
        s""""location":[{"location":{"identifier":{"system":"https://seattleflu.org/site","value":"${m.site}"}}}]}},""" +
        s"""{"fullUrl":"urn:uuid:s-${m.encounter}","resource":{"resourceType":"Specimen",""" +
        s""""identifier":[{"system":"https://seattleflu.org/sample","value":"${m.barcode}"}],""" +
        s""""collection":{"collectedDateTime":"${m.collected}"}}},""" +
        s"""{"fullUrl":"urn:uuid:o-${m.encounter}","resource":{"resourceType":"Observation",""" +
        s""""encounter":{"reference":"urn:uuid:e-${m.encounter}"},""" +
        s""""specimen":{"reference":"urn:uuid:s-${m.encounter}"}}}]}"""
      Doc(text, Some(m))
    }
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
