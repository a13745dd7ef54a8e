package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar function surface of the engine (SURVEY.md §2.6), re-expressed as
  * pure `Column` combinators so every call stays inside Catalyst codegen.
  * The JVM escape hatches are native expressions such as
  * [[HammingDistance]], registered for SQL by
  * [[graft.plans.GraftExtensions.registerAll]].
  */
package object functions {

  import org.apache.spark.sql.GraftSqlBridge.{column => toCol, expression => toExpr}

  /** hamming_distance as a Column (reference functions/hamming_distance.sql:5-33). */
  def hammingDistance(a: Column, b: Column): Column =
    toCol(HammingDistance(toExpr(a), toExpr(b)))

  /** Short-circuiting distance<=k (reference hamming_distance.sql:36-60). */
  def hammingDistanceLte(a: Column, b: Column, k: Column): Column =
    toCol(HammingDistanceLte(toExpr(a), toExpr(b), toExpr(k)))

  /** zlib-compressed byte length as a Column — the compression-ratio
    * quality signal's kernel ([[DeflatedLength]]).
    */
  def deflatedLength(text: Column): Column =
    toCol(DeflatedLength(toExpr(text)))

  /** Content-defined chunk end positions as a Column — one codegen pass
    * per string, no per-character explode ([[CdcBoundaries]]).
    */
  def cdcBoundaries(text: Column, k: Int, m: Int): Column =
    toCol(CdcBoundaries(toExpr(text), k, m))

  /** Codegen'd integer dot product of two long arrays — the int8-code
    * scoring loop of quantized search (HOF zip_with/aggregate forms are
    * interpreted per element; this stays in whole-stage codegen).
    */
  def int8Dot(a: Column, b: Column): Column =
    toCol(Int8Dot(toExpr(a), toExpr(b)))

  /** Codegen'd double dot of float arrays — same left-to-right summation
    * as the HOF fold, so doubles stay oracle-identical ([[FloatDot]]). */
  def floatDot(a: Column, b: Column): Column =
    toCol(FloatDot(toExpr(a), toExpr(b)))

  /** Unicode NFC canonical composition as a codegen'd native expression
    * (see [[NfcNormalize]]) — identity-fast on already-normalized text.
    */
  def nfcNormalize(c: Column): Column = toCol(NfcNormalize(toExpr(c)))

  /** Codegen top-level JSON field extraction — the hot-loop form of
    * `get_json_object(json, '$.key')` (every Spark JSON built-in is a
    * CodegenFallback that news a Jackson parser per row; see
    * [[JsonScalarImpl.extract]] for the equivalence contract —
    * structured values come back as raw serialized text).
    */
  def jsonScalarField(json: Column, key: Column): Column =
    toCol(JsonScalarField(toExpr(json), toExpr(key)))

  /** Codegen'd distinct-intersection COUNT of two sorted long arrays —
    * `size(array_intersect(a, b))` without the per-row hash set and
    * result array, for the exact-similarity verify stages whose gram
    * sets are already sorted ([[SortedIntersectCount]]). PRECONDITION:
    * both arrays sorted ascending (nulls first, `sort_array` order).
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    toCol(SortedIntersectCount(toExpr(a), toExpr(b)))

  /** Codegen'd word n-gram shingles — one byte scan per document, no
    * interpreted HOF per gram ([[WordNgrams]]). `distinct = true` is
    * the set-shingle form (Dedup.wordShingles), `false` the positional
    * form (TextAnalysis.wordNgrams).
    */
  def wordNgramsNative(text: Column, n: Int, distinct: Boolean): Column =
    toCol(WordNgrams(toExpr(text), n, distinct))

  /** Fused shingle + hash60Base kernel — the distinct gram hashes of a
    * document as `array<long>`, bit-identical to
    * `hash60Base(explode(wordShingles(text, n)))` ([[WordNgramHash60]]).
    */
  def wordNgramHash60(text: Column, n: Int, distinct: Boolean,
      prefix: String = ""): Column =
    toCol(WordNgramHash60(toExpr(text), n, distinct, prefix))

  /** Winnowing rolling-window distinct minima over a long-hash array —
    * the fingerprint-selection stage of [[WinnowMinima]].
    */
  def winnowMinima(hashes: Column, window: Int): Column =
    toCol(WinnowMinima(toExpr(hashes), window))

  /** Codegen'd canonical query-string suffix — the sorted,
    * tracking-stripped "?a=1&b=2" tail of URL canonicalization as one
    * byte pass ([[CanonicalQuery]]; the HOF chain it replaces ran
    * split/filter/sort/join through interpreted lambdas per row).
    */
  def canonicalQuery(q: Column): Column = toCol(CanonicalQuery(toExpr(q)))

  /** Z-order (Morton) bit-interleave of two non-negative ints confined to
    * `bits` bits each — the multi-dimensional layout key:
    * `sortWithinPartitions(zOrder2(a, b))` before a columnar write keeps
    * per-file min/max ranges tight on BOTH dimensions, so scans filtered
    * on either column prune files at 100 TB (the clustering that table
    * formats surface as Z-ORDER optimization). Pure integer bit math over
    * built-ins — stays inside whole-stage codegen, no UDF.
    */
  def zOrder2(x: Column, y: Column, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, s"bits $bits out of range")
    val xs = x.cast("long"); val ys = y.cast("long")
    (0 until bits).map { i =>
      shiftright(xs, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(ys, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Canonical text cleanup for corpus ingestion: NFC-compose, strip
    * C0/C1-ish control characters (keeping \t \n \f \r as whitespace),
    * collapse whitespace runs to single spaces, trim. The control class
    * excludes the whitespace controls it keeps and also drops \x0B
    * (vertical tab), which Java and RE2 `\s` disagree about — after the
    * strip, both engines' `\s` see the same characters, so the pipeline
    * is engine-portable by construction.
    */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfcNormalize(c), "[\\x00-\\x08\\x0B\\x0E-\\x1F\\x7F]", ""),
      "\\s+", " "))

  /** Overlapping 2-char slices tagged with 1-based position, the minting
    * prefilter key (reference functions/barcode_slices.sql:5-23 and
    * dev/doc/01-barcode-slices.md): `i || '__' || substr(b, i, 2)`.
    */
  def barcodeSlices(code: Column): Column =
    transform(
      sequence(lit(1), length(code) - 1),
      i => concat(i.cast("string"), lit("__"), code.substr(i, lit(2))))

  /** Barcode = last 8 chars of a canonical 36-char UUID (reference
    * warehouse/identifier/triggers/barcode-default-from-uuid.sql:7-16).
    */
  def barcodeFromUuid(uuid: Column): Column = substring(uuid, 29, 8)

  /** `date_or_null` (reference functions/date_or_null.sql:5-14): cast to
    * date, null on failure — ANSI-safe via try_cast.
    */
  def dateOrNull(c: Column): Column = c.try_cast(org.apache.spark.sql.types.DateType)

  /** ISO 8601 week bucket `IYYY-"W"IW` (reference shipping
    * views@2020-01-14b.sql:22,144). ISO week-year computed as the calendar
    * year of that week's Thursday — pure Column, no UDF.
    */
  def isoWeek(ts: Column): Column = {
    val d = to_date(ts)
    val thursday = date_add(d, lit(3) - weekday(d)) // weekday: Monday=0
    concat(year(thursday).cast("string"), lit("-W"),
      lpad(weekofyear(d).cast("string"), 2, "0"))
  }

  /** `(ts at time zone tz)::date` (reference views@2020-01-14b.sql:21). */
  def tzDate(ts: Column, tz: String): Column = to_date(from_utc_timestamp(ts, tz))

  /** ISO week bucket in a reporting timezone, the exact reference shape
    * `to_char(ts at time zone 'US/Pacific', 'IYYY-"W"IW')`.
    */
  def isoWeekInTz(ts: Column, tz: String): Column = isoWeek(from_utc_timestamp(ts, tz))

  /** age_in_years(months) = round(months/12, 2) (reference
    * functions/age_conversion.sql:5-17; months is the unit of truth per
    * age_in_months, :20-28).
    */
  def ageInYears(ageMonths: Column): Column = round(ageMonths / 12.0, 2)

  /** Reporting-age ceiling: `least(ceil(years), 90)` (reference
    * views@2020-01-14b.sql:33-35; cap in etl/__init__.py:313-329).
    */
  def cappedReportingAge(ageYears: Column): Column =
    least(ceil(ageYears), lit(90)).cast("int")

  /** Whitespace/NA normalization (reference cli/command/manifest.py:327-336):
    * trim, then "" and "na" (case-insensitive) become null.
    */
  def normalizeNa(c: Column): Column = {
    val t = trim(c)
    when(lower(t).isin("", "na"), lit(null)).otherwise(t)
  }

  /** Survey junk-answer collapsing (reference views@2020-01-14b.sql:80-97):
    * listed junk values become null before the cast.
    */
  def nullifJunk(c: Column, junk: Seq[String]): Column =
    when(c.isin(junk: _*), lit(null)).otherwise(c)

  /** citext comparison key (Postgres citext columns: site identifier,
    * barcode, relation, scale, segment — SURVEY §1.4).
    */
  def citext(c: Column): Column = lower(c)

  /** DeepHash-style record digest over selected columns, provenance
    * excluded (reference cli/command/manifest.py:614-619): stable string
    * encoding then sha-256.
    */
  def deepHash(cols: Seq[Column], caseInsensitive: Boolean = false): Column = {
    val parts = cols.map(c => coalesce(c.cast("string"), lit("\u0000")))
    val joined = concat_ws("|", parts: _*)
    sha2(if (caseInsensitive) lower(joined) else joined, 256)
  }

  /** sha256(value || secret) de-identification (reference
    * cli/command/de_identify.py:91-139).
    */
  def deidentify(c: Column, secret: String): Column =
    sha2(concat(coalesce(c.cast("string"), lit("")), lit(secret)), 256)

  /** PII masking (reference cli/io/pandas.py:22-27). */
  def mask(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, lit("*****")))

  /** Right-biased merge of two string maps — hstore `||` on upsert
    * (reference etl/__init__.py:392-399,450-455). Pure Column: drop keys
    * of `a` that `b` overrides, then concat (no dup keys ⇒ no dedup-policy
    * dependence).
    */
  def hstoreMerge(a: Column, b: Column): Column =
    // let-bind both sides: callers pass whole parse trees (str_to_map over
    // regexes), and each is referenced three times below — without the
    // binding the interpreted-HOF path re-evaluates them per reference
    graft.operators.Dedup.bind(a, av =>
      graft.operators.Dedup.bind(b, bv => {
        val aClean = map_filter(av, (k, _) => !map_contains_key(bv, k))
        when(av.isNull, bv).when(bv.isNull, av).otherwise(map_concat(aClean, bv))
      }))

  /** Parse Postgres hstore text ("k"=>"v", ...) into a map. */
  def hstoreParse(c: Column): Column =
    str_to_map(
      regexp_replace(regexp_replace(c, "\"", ""), "\\s*=>\\s*", "=>"),
      lit(",\\s*"), lit("=>"))

  /** Normalize volatile FHIR urn:uuid references before change detection
    * (reference etl/__init__.py:184-190).
    */
  def normalizeUrnUuids(json: Column): Column =
    regexp_replace(json, "\"urn:uuid:[0-9a-fA-F-]{36}\"", "\"\"")

  /** ltree lquery match — `lineage ~ pattern` (reference find_organism,
    * lib/id3c/cli/command/etl/consensus_genome.py:225-236, organisms like
    * `*.influenza.*`). Supports the lquery subset id3c uses: exact labels,
    * `*` (any number of labels) and `a|b` alternation. Compiled once to an
    * anchored regex over the dot-wrapped path and evaluated by codegen'd
    * RLIKE — no UDF. Assumes word-character labels (ltree's own alphabet).
    */
  def lqueryMatch(lineage: Column, pattern: String): Column = {
    val parts = pattern.split("\\.", -1).map {
      case "*" => "(?:[^.]+\\.)*"
      case p if p.contains("|") =>
        "(?:" + p.split("\\|").mkString("|") + ")\\."
      case p => p + "\\."
    }
    concat(lit("."), lineage, lit(".")).rlike("^\\." + parts.mkString + "$")
  }

  /** Every ancestor prefix of an ltree path, shortest first:
    * `virus.influenza.h3` → [virus, virus.influenza, virus.influenza.h3]
    * — the explode key for rollups "at every taxonomic level" (each row
    * counts toward all its ancestors), the ltree analogue of a ROLLUP
    * lattice. Null/empty paths yield an empty array. The split is pinned
    * to a lambda variable (single evaluation per row — the projection
    * -collapse HOF trap documented in the verify skill).
    */
  def ltreePrefixes(lineage: Column): Column =
    when(lineage.isNull || length(lineage) === 0,
        array().cast("array<string>"))
      .otherwise(element_at(
        transform(array(split(lineage, "\\.")), parts =>
          transform(sequence(lit(1), size(parts)),
            i => array_join(slice(parts, lit(1), i), "."))),
        1))

  /** jsonb shallow (top-level, right-biased) merge `a || b` (reference
    * lib/id3c/db/__init__.py:229,305; etl/__init__.py:128,586-587) as a
    * codegen native expression — [[JsonbMergeShallow]]. The Jackson UDF
    * this replaces (Round11OpsSpec keeps it as the equivalence
    * reference) was the merge engine's last `ScalaUDF` on a hot path:
    * q46's update fold ran it inside an interpreted `aggregate` lambda,
    * one catalyst→scala conversion + Jackson parse/reserialize per
    * element.
    */
  def jsonbMergeShallow(a: Column, b: Column): Column =
    toCol(JsonbMergeShallow(toExpr(a), toExpr(b)))

  /** The same-batch sequential-update fold
    * `aggregate(docs, NULL, (acc, d) -> jsonb_merge_shallow(acc, d))` as
    * ONE codegen call over the array ([[JsonbMergeFold]]) — the HOF
    * `aggregate` form runs interpreted per element.
    */
  def jsonbMergeFold(docs: Column): Column =
    toCol(JsonbMergeFold(toExpr(docs)))
}
