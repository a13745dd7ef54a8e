package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: language ID, quality
  * scoring, token counting, fingerprinting. All pure column expressions —
  * per-row, embarrassingly parallel, no shuffle, codegen-friendly.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count (0 for empty/blank text). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

  /** BPE-ish subword count estimate: word-piece regex split — words,
    * numbers, and individual punctuation marks each count.
    */
  def subwordCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(
      size(filter(split(text, "(?=[^\\p{L}\\p{N}])|(?<=[^\\p{L}\\p{N}])"),
        t => length(t) > 0)))

  private val markerWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和"))

  /** n-gram/stopword-heuristic language ID: score each language by marker
    * token hits, argmax with lexicographic tie-break (deterministic).
    * Tokens and scores are let-bound ([[Dedup.bind]]) so the text is
    * tokenized once, not once per language — a chained `when` reduce here
    * duplicates sub-expressions exponentially.
    */
  def langId(text: Column): Column =
    Dedup.bind(tokens(lower(text)), toks =>
      Dedup.bind(array(markerWords.map { case (lang, markers) =>
          struct(size(filter(toks, t => t.isin(markers.map(lit): _*))).as("hits"),
            lit(lang).as("lang"))
        }: _*), scored =>
        Dedup.bind(array_max(transform(scored, x => x.getField("hits"))), mx =>
          array_min(filter(scored, x => x.getField("hits") === mx))
            .getField("lang"))))

  /** [[langId]] with CONFIDENCE: top language, its marker-hit count,
    * the runner-up's count, and the margin between them — the signal
    * that separates "confidently en" from "mixed / too short to call"
    * (margin 0), which a corpus router needs before trusting the label.
    * Relational form: the 5 per-language hit counts ride ONE tokenize
    * (let-bound array of structs, as in [[langId]]), explode to (doc,
    * lang, hits) rows, and a per-doc window over exactly 5 rows ranks
    * them — integer-exact, deterministic ties (hits desc, lang asc).
    *
    * Output: idCol, lang, top_hits, second_hits, margin.
    */
  def langConfidence(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = df.select(col(idCol),
        explode(Dedup.bind(tokens(lower(col(textCol))), toks =>
          array(markerWords.map { case (lang, markers) =>
            struct(lit(lang).as("lang"),
              size(filter(toks, t => t.isin(markers.map(lit): _*)))
                .cast("long").as("hits"))
          }: _*))).as("s"))
      .select(col(idCol), col("s.lang"), col("s.hits"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("hits").desc, col("lang"))
    val ranked = scored.withColumn("_rk", row_number().over(w))
    val top = ranked.filter(col("_rk") === 1)
      .select(col(idCol), col("lang"), col("hits").as("top_hits"))
    val second = ranked.filter(col("_rk") === 2)
      .select(col(idCol), col("hits").as("second_hits"))
    top.join(second, Seq(idCol))
      .withColumn("margin", col("top_hits") - col("second_hits"))
  }

  private val stopwords =
    Seq("the", "a", "of", "and", "to", "is", "in", "that", "it", "for")

  /** Quality signals (length, punctuation/digit/stopword ratios, mean
    * word length) and a composite score in [0,1].
    */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = tokenCount(t)
    val nChar = length(t)
    val punct = nChar - length(regexp_replace(t, "[\\p{Punct}]", ""))
    val digits = nChar - length(regexp_replace(t, "[0-9]", ""))
    val stopHits = size(filter(toks, w => lower(w).isin(stopwords.map(lit): _*)))
    df.withColumn("n_chars", nChar)
      .withColumn("n_tokens", nTok)
      .withColumn("punct_ratio",
        when(nChar === 0, 0.0).otherwise(punct.cast("double") / nChar))
      .withColumn("digit_ratio",
        when(nChar === 0, 0.0).otherwise(digits.cast("double") / nChar))
      .withColumn("stopword_ratio",
        when(nTok === 0, 0.0).otherwise(stopHits.cast("double") / nTok))
      .withColumn("mean_word_len",
        when(nTok === 0, 0.0)
          .otherwise((nChar - nTok + 1).cast("double") / nTok))
  }

  /** Blocklist (badwords) filter, C4-style: whole-word hit count per
    * document against a small static word list, plus the flag for docs
    * whose blocklisted-token share exceeds `maxPct` percent. ONE
    * compiled alternation regex per row — codegen'd, no token explode,
    * no shuffle, the text never leaves its partition; at 100 TB this is
    * a pure map stage fused into the scan. The \b alternation is kept
    * to the Java/RE2-identical regex subset so the same pattern is the
    * SQL oracle. Integer-exact flag: hits·100 > n_tokens·maxPct.
    */
  def blocklistSignals(
      df: DataFrame, textCol: String, words: Seq[String],
      maxPct: Int): DataFrame = {
    require(words.nonEmpty && words.forall(_.matches("[A-Za-z0-9]+")),
      "blocklist words must be plain alphanumerics (regex-safe)")
    // the pattern runs against lower(text), so fold the words too —
    // an uppercase entry would otherwise pass the require yet never hit
    val pat = "\\b(" + words.map(_.toLowerCase).mkString("|") + ")\\b"
    df.withColumn("hits",
        regexp_count(lower(col(textCol)), lit(pat)).cast("long"))
      .withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
      .withColumn("flagged", col("hits") * 100 > col("n_tokens") * maxPct)
  }

  /** Compression-ratio quality signal (the Gopher/FineWeb heuristic):
    * deflated byte length over raw byte length. Boilerplate and
    * template spam deflate far below ~0.4; high-entropy noise (minified
    * JS, base64 blobs) sits near 1.0; natural prose lands between. The
    * kernel is the native [[graft.functions.DeflatedLength]] codegen
    * expression — a pure per-row map fused into the scan, text never
    * shuffles. No SQL oracle exists for zlib, so this signal is gated
    * by its spec (monotonicity, determinism) and a rows-only check
    * rather than a DuckDB hash compare.
    */
  def compressionSignals(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("raw_len", octet_length(col(textCol)).cast("long"))
      .withColumn("deflated_len",
        graft.functions.deflatedLength(col(textCol)).cast("long"))
      .withColumn("compression_ratio",
        when(col("raw_len") === 0, 1.0)
          .otherwise(col("deflated_len").cast("double") / col("raw_len")))

  /** KWIC (keyword-in-context) concordance: every occurrence of `term`
    * (exact whitespace-token match) with ±`window` surrounding tokens —
    * the search/debugging view behind "show me how this term is used".
    * Pure per-row position filter + slice + explode; no shuffle, no
    * index — compose with [[graft.operators.Search]]'s inverted indexes
    * to prune the corpus first at scale.
    *
    * Output: input columns + pos (1-based token position) + context.
    */
  def kwic(
      df: DataFrame, textCol: String, term: String,
      window: Int = 3): DataFrame = {
    val toks = tokens(col(textCol))
    df.withColumn("pos", explode(filter(
        sequence(lit(1), greatest(size(toks), lit(1))),
        i => element_at(toks, i) === term)))
      .withColumn("context", array_join(
        slice(toks, greatest(col("pos") - window, lit(1)),
          least(col("pos") + window,
            size(tokens(col(textCol)))) -
            greatest(col("pos") - window, lit(1)) + 1), " "))
  }

  // PII patterns — kept to the regex subset that Java and RE2 treat
  // identically (character classes, bounded repetition, \b), so the same
  // pattern is reusable as a SQL oracle.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** PII redaction for training corpora: emails, IPv4s and phone numbers
    * replaced with typed placeholder tokens. Pure per-row regexp chain —
    * codegen'd, no shuffle. Order matters: emails first (an email's
    * host.digits could otherwise be clipped by the IP rule).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Word n-grams, NOT deduplicated (repetition analysis needs the
    * multiplicities that [[Dedup.wordShingles]] discards).
    */
  def wordNgrams(text: Column, n: Int): Column =
    graft.functions.wordNgramsNative(text, n, distinct = false)

  /** Gopher-style repetition signals per document: the fraction of n-gram
    * occurrences claimed by the single most frequent n-gram
    * (`top_gram_frac`) and the fraction covered by n-grams occurring more
    * than once (`dup_gram_frac`). High values flag boilerplate/spam for
    * corpus filtering (Rae et al. 2021, "Scaling Language Models" §A1.1 —
    * public heuristic).
    *
    * Relational form: explode n-grams → two map-side-combining groupBys
    * ((id, gram) then id). Ratios are single divisions of exact counts —
    * bit-identical in any engine. Scales: the shuffle carries (id, gram)
    * counts, never the text.
    */
  def repetitionSignals(
      df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame =
    df.select(col(idCol).as(idCol),
        // positional gram HASHES — the gram value never reaches the
        // output (only per-gram counts), so rows carry 8-byte longs
        explode(graft.functions.wordNgramHash60(col(textCol), n,
          distinct = false)).as("gram"))
      .groupBy(idCol, "gram").agg(count(lit(1)).as("_c"))
      .groupBy(idCol)
      .agg(sum("_c").as("_total"), max("_c").as("_top"),
        sum(when(col("_c") > 1, col("_c")).otherwise(0L)).as("_dup"))
      .select(col(idCol),
        (col("_top").cast("double") / col("_total")).as("top_gram_frac"),
        (col("_dup").cast("double") / col("_total")).as("dup_gram_frac"))

  /** Winnowing-style rolling fingerprint set: the distinct minima of
    * hash60 over every window of `window` consecutive k-gram hashes
    * (Schleimer et al., SIGMOD 2003 — public algorithm). Used for robust
    * partial-overlap detection; per-row column math only.
    */
  def winnowingFingerprints(text: Column, k: Int = 5, window: Int = 4): Column =
    // seeded gram hashes (md5("s7|" + gram), positional) through the
    // fused kernel, window minima in one primitive loop — the HOF form
    // hashed and re-sliced through interpreted lambdas per gram/window;
    // byte-equivalence with it is spec-pinned
    graft.functions.winnowMinima(
      graft.functions.wordNgramHash60(text, k, distinct = true,
        prefix = "s7|"),
      window)

  /** Sequence packing, concat-and-chunk style: documents are concatenated
    * in `idCol` order and cut into fixed `budget`-token training
    * sequences; each document gets its global token offset and the
    * [chunk_first, chunk_last] range it lands in (a doc can straddle a
    * boundary — the standard pretraining packer splits it).
    *
    * The global token offset is [[OrderedPrefix.sums]] over id buckets:
    * only the (id, n_tokens) projection shuffles; the text never moves.
    */
  def packChunks(
      df: DataFrame, idCol: String, tokenCol: String, budget: Int): DataFrame =
    OrderedPrefix.sums(df.select(col(idCol), col(tokenCol)),
        OrderedPrefix.idBucket(col(idCol)), Seq(col(idCol)),
        Seq("start_offset" -> col(tokenCol)))
      .select(col(idCol), col(tokenCol), col("start_offset"),
        when(col(tokenCol) > 0, floor(col("start_offset") / budget))
          .as("chunk_first"),
        when(col(tokenCol) > 0,
          floor((col("start_offset") + col(tokenCol) - 1) / budget))
          .as("chunk_last"))

  /** Vocabulary coverage curve — the tokenizer-sizing question "how many
    * vocabulary entries cover X% of all token occurrences?" answered for
    * several X at once. The frequency-descending global rank is an
    * [[OrderedPrefix.sums]] whose coarse ordered bucket is the count's BIT
    * LENGTH, reversed (every token in a higher bucket outranks every
    * token in a lower one — integer-exact, no log2 float boundaries):
    * ≤64 bucket totals, no vocabulary-sized global sort.
    *
    * Output per threshold (basis points): (bp, vocab_size = smallest
    * prefix of the frequency-ranked vocab reaching the threshold,
    * covered_tokens at that prefix, total_tokens, coverage double).
    */
  def vocabCoverageCurve(
      df: DataFrame, textCol: String, thresholdsBp: Seq[Int]): DataFrame = {
    require(thresholdsBp.nonEmpty &&
      thresholdsBp.forall(b => b > 0 && b <= 10000),
      "thresholds are basis points in (0, 10000]")
    val counts = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    OrderedPrefix.sums(counts, lit(64) - length(conv(col("cnt"), 10, 2)),
        Seq(col("cnt").desc, col("tok")),
        Seq("_r" -> lit(1L), "_c" -> col("cnt")))
      .select((col("_r") + 1).as("rank"), (col("_c") + col("cnt")).as("cum"),
        col("_c_total").as("_T"))
      .withColumn("bp", explode(array(thresholdsBp.map(b => lit(b)): _*)))
      .filter(col("cum") * 10000 >= col("_T") * col("bp"))
      .groupBy("bp")
      .agg(min(col("rank")).as("vocab_size"),
        min_by(col("cum"), col("rank")).as("covered_tokens"),
        max(col("_T")).as("total_tokens"))
      .withColumn("coverage",
        col("covered_tokens").cast("double") / col("total_tokens"))
  }

  /** The (w1, w2) adjacent-token pair stream of `textCol`, carrying
    * `cols` through — shared by [[bigramLmScore]] and [[dsirWeights]]. */
  private def bigramPairs(
      textCol: String)(df: DataFrame, cols: Column*): DataFrame =
    // positional native bigrams (one byte scan; the zip_with form ran
    // interpreted per token pair); tokens are whitespace-split, so the
    // space join is reversible — same invariant pmiCollocations rides.
    // The < 2-token guard keeps the legacy empty-stream semantics (the
    // kernel would emit the clamped single-token gram).
    df.select((cols :+ when(tokenCount(col(textCol)) >= 2,
        graft.functions.wordNgramsNative(col(textCol), 2, distinct = false))
        .otherwise(array().cast("array<string>")).as("_prs")): _*)
      .select((cols :+ explode(col("_prs")).as("_g")): _*)
      .select((cols :+ split_part(col("_g"), lit(" "), lit(1)).as("w1")
        :+ split_part(col("_g"), lit(" "), lit(2)).as("w2")): _*)

  /** Model-based quality scoring via a distributed bigram language model
    * (the public CCNet/KenLM-filtering recipe, reduced to the n = 2 case
    * so counts stay exact): "train" = bigram + unigram counts over a
    * reference corpus; "score" = per document, the sum of smoothed
    * conditional probabilities c(w1 w2) / (c(w1) + 1) over its adjacent
    * token pairs. In-domain fluent text scores high, out-of-domain or
    * shuffled text low.
    *
    * All arithmetic is integer-exact for cross-engine determinism: each
    * pair's probability is quantized to floor(2^20 · p) — the 2^20 scale
    * is a power of two so the multiply is exact, the divide is a single
    * IEEE correctly-rounded op, and the per-doc SUM is a BIGINT sum
    * (order-independent, unlike a float accumulation).
    *
    * Plan shape at 100 TB: tokenize → explode pairs (narrow), two
    * map-side-combined count aggregates over the reference, then two
    * equi-joins of the corpus pair stream against the count tables
    * (broadcast when the vocabulary is small, shuffle-hash when it is
    * web-scale — AQE's call), and one partial-agg groupBy(doc). The text
    * itself never shuffles; only (doc_id, w1, w2) triples move.
    *
    * Output: doc_id, n_pairs, score_q20 (both BIGINT; score_q20 = 0 for
    * docs with < 2 tokens).
    */
  def bigramLmScore(
      corpus: DataFrame, reference: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val refPairs = bigramPairs(textCol)(reference)
    val bigrams = refPairs.groupBy("w1", "w2").agg(count(lit(1)).as("_c12"))
    val unigrams = refPairs.groupBy("w1").agg(count(lit(1)).as("_c1"))
    val scored = bigramPairs(textCol)(corpus, col(idCol))
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(unigrams, Seq("w1"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(
          floor(lit(1048576) * (col("_c12").cast("double") /
            (col("_c1") + 1).cast("double"))).cast("long"),
          lit(0L))).as("score_q20"))
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("score_q20"), lit(0L)).as("score_q20"))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): score
    * every pool document under a TARGET-domain bigram model and a SOURCE
    * (general-pool) bigram model and weight by the difference — documents
    * that look more like the target than like the average pool get
    * positive weight and survive the downstream resampling gate
    * ([[Sampling.temperatureResample]] / quantile thresholds). Same
    * engine-exact quantization as [[bigramLmScore]]: each pair's
    * probability estimate is ONE correctly-rounded IEEE division, floor
    * -quantized to q20, summed as BIGINT — the weight is an exact integer
    * difference, bit-identical across engines and partition orders (a
    * float log-likelihood ratio would not be).
    *
    * Scale shape: the pool's pair stream is built ONCE and joined against
    * both models' count tables in a single pass (4 left joins, broadcast
    * when the reference vocabularies are bounded — AQE's call), then one
    * map-side-combined groupBy(doc). The pool text never shuffles; only
    * (doc, w1, w2) triples move. Scoring under m reference domains is m
    * more joins on the same stream, not m more corpus scans.
    *
    * Output: id, n_pairs, target_q20, source_q20, weight_q20 (all BIGINT;
    * zero-pair docs carry all-zero scores).
    */
  def dsirWeights(
      corpus: DataFrame, target: DataFrame, source: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def model(ref: DataFrame, suffix: String): (DataFrame, DataFrame) = {
      val p = bigramPairs(textCol)(ref)
      (p.groupBy("w1", "w2").agg(count(lit(1)).as(s"_c12$suffix")),
        p.groupBy("w1").agg(count(lit(1)).as(s"_c1$suffix")))
    }
    val (bigT, uniT) = model(target, "t")
    val (bigS, uniS) = model(source, "s")
    // merge the two models per key level BEFORE touching the corpus
    // stream: the target/source model frames are vocabulary-sized, so
    // their full-outer merges are cheap, and the corpus-sized bigram
    // stream then pays TWO joins instead of four (measured the
    // dominant cost of this operator at sf0.1)
    val big = bigT.join(bigS, Seq("w1", "w2"), "full_outer")
    val uni = uniT.join(uniS, Seq("w1"), "full_outer")
    def q20(c12: Column, c1: Column): Column =
      coalesce(
        floor(lit(1048576) * (c12.cast("double") /
          (c1 + 1).cast("double"))).cast("long"),
        lit(0L))
    val scored = bigramPairs(textCol)(corpus, col(idCol))
      .join(big, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_pairs"),
        sum(q20(col("_c12t"), col("_c1t"))).as("target_q20"),
        sum(q20(col("_c12s"), col("_c1s"))).as("source_q20"))
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("target_q20"), lit(0L)).as("target_q20"),
        coalesce(col("source_q20"), lit(0L)).as("source_q20"),
        (coalesce(col("target_q20"), lit(0L)) -
          coalesce(col("source_q20"), lit(0L))).as("weight_q20"))
  }

  /** Overlapping token-window chunking: split each document into windows
    * of `chunkTokens` whitespace tokens advancing by `chunkTokens -
    * overlap`, the standard context-window preparation for embedding /
    * training pipelines (distinct from [[packChunks]], which packs WHOLE
    * documents into a token budget).
    *
    * Chunk starts stop once the remaining tail is fully covered by the
    * previous window's overlap (a start is emitted while
    * `start <= n - overlap - 1`; start 0 always emits), so no chunk is a
    * suffix of its predecessor. Per-row sequence+explode — no shuffle at
    * all; the output inherits the input's partitioning.
    *
    * Blank-document convention: a blank/empty text emits ONE chunk with
    * empty text and n_tokens = 1 (splitting "" yields [""]), which
    * deliberately differs from [[tokenCount]]'s 0-for-blank — chunking
    * preserves "every document yields at least one chunk" so downstream
    * per-chunk joins never drop a document; filter
    * `length(trim(text)) > 0` upstream if blank docs should vanish.
    *
    * Blank documents: a whitespace-only text still emits ONE chunk (empty
    * string, n_tokens = 1) because `split` of an empty string yields [""]
    * — every document is represented in the output, unlike [[tokenCount]]
    * which reports 0 tokens for blank text. Filter
    * `length(trim(text)) > 0` upstream to drop blank docs instead.
    *
    * Output: doc_id, chunk_no, chunk (space-joined tokens), n_tokens.
    */
  def chunkWithOverlap(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap $overlap must be in [0, $chunkTokens)")
    val step = chunkTokens - overlap
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("_toks"),
        explode(sequence(lit(0),
          greatest(size(col("_toks")) - overlap - 1, lit(0)),
          lit(step))).as("_start"))
      .select(col("doc_id"),
        (col("_start") / step).cast("long").as("chunk_no"),
        array_join(slice(col("_toks"), col("_start") + 1, lit(chunkTokens)),
          " ").as("chunk"),
        least(lit(chunkTokens), size(col("_toks")) - col("_start"))
          .cast("long").as("n_tokens"))
  }

  /** Content-defined chunking (the FastCDC/rsync family, rolling-sum
    * stand-in): one chunk row per (doc, boundary interval), boundaries
    * from [[graft.functions.CdcBoundaries]] — a position is a cut when
    * the rolling sum of the last `k` code points is ≡ 0 (mod `m`).
    * Because cuts depend only on local content, an edit near the head of
    * a document re-aligns within ~m characters and every later chunk
    * hash is shared again — the property that makes chunk-level dedup
    * robust to boilerplate prefixes/suffixes where q259's fixed-size
    * chunking shares nothing after a one-character shift.
    *
    * Scale shape: boundary detection is one codegen pass inside the scan
    * (never a per-character explode + keyed window, which would shuffle
    * the corpus byte-for-byte); the explode fans out ≈ len/m chunk rows
    * per doc. Expected chunk length is `m` characters.
    *
    * Output: doc_id, chunk_no (0-based), chunk_start (0-based, exclusive
    * of the previous boundary), chunk_end, chunk.
    */
  def cdcChunks(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, m: Int): DataFrame = {
    val bs = graft.functions.cdcBoundaries(col(textCol), k, m)
    df.select(col(idCol).as("doc_id"), col(textCol).as("_t"), bs.as("_bs"))
      .select(col("doc_id"), col("_t"), col("_bs"),
        posexplode(col("_bs")).as(Seq("_i", "_e")))
      .select(col("doc_id"), col("_i").cast("long").as("chunk_no"),
        when(col("_i") > 0, element_at(col("_bs"), col("_i")))
          .otherwise(lit(0)).cast("long").as("chunk_start"),
        col("_e").cast("long").as("chunk_end"), col("_t"))
      .withColumn("chunk",
        substring(col("_t"), (col("chunk_start") + 1).cast("int"),
          (col("chunk_end") - col("chunk_start")).cast("int")))
      .drop("_t")
  }

  /** Flesch-reading-ease readability signals, fixed-point (milli-units)
    * so the score hash-matches any engine running the same integer
    * chain: words = whitespace tokens, sentences = `[.!?]+` runs
    * (min 1), syllables = `[aeiouy]+` vowel groups of the lowercased
    * text (the standard cheap proxy). Score:
    *   flesch_milli = 206835 − ⌊1015·words/sentences⌋
    *                        − ⌊84600·syllables/words⌋
    * with the floors as explicit `a − a%b` integer division (words
    * floored at 1 in the denominator so empty docs score the constant).
    * Pure per-row column math — a map stage fused into the scan.
    *
    * Output: input columns + n_words, n_sentences, n_syllables,
    * flesch_milli, band (very_easy ≥ 90k / standard ≥ 60k /
    * difficult ≥ 30k / very_difficult).
    */
  def readabilitySignals(df: DataFrame, textCol: String): DataFrame = {
    def fdiv(a: Column, b: Column): Column = ((a - a % b) / b).cast("long")
    df.withColumn("n_words", tokenCount(col(textCol)).cast("long"))
      .withColumn("n_sentences",
        greatest(regexp_count(col(textCol), lit("[.!?]+")).cast("long"),
          lit(1L)))
      .withColumn("n_syllables",
        regexp_count(lower(col(textCol)), lit("[aeiouy]+")).cast("long"))
      .withColumn("flesch_milli",
        lit(206835L) -
          fdiv(lit(1015L) * col("n_words"), col("n_sentences")) -
          fdiv(lit(84600L) * col("n_syllables"),
            greatest(col("n_words"), lit(1L))))
      .withColumn("band",
        when(col("flesch_milli") >= 90000L, "very_easy")
          .when(col("flesch_milli") >= 60000L, "standard")
          .when(col("flesch_milli") >= 30000L, "difficult")
          .otherwise("very_difficult"))
  }

  /** Context-length planning report: for each candidate max sequence
    * length, how many docs fit outright and how many tokens a hard
    * truncation keeps vs discards — the measurement behind choosing a
    * training context length (and whether packing/chunking is worth
    * its cost) before committing a 100 TB tokenization run. One
    * map-side-partial aggregation per (group, L); the candidate-length
    * frame is a broadcast literal cross of constant size.
    *
    * Output: groupCol, max_len, n_docs, n_fit, tokens_kept, tokens_lost.
    */
  def truncationWaste(
      df: DataFrame, groupCol: String, textCol: String,
      lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty, "need at least one candidate length")
    val ls = array(lengths.map(l => lit(l.toLong)): _*)
    df.select(col(groupCol), tokenCount(col(textCol)).cast("long").as("_n"))
      .select(col(groupCol), col("_n"),
        explode(ls).as("max_len"))
      .groupBy(col(groupCol), col("max_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_n") <= col("max_len"), 1L).otherwise(0L)).as("n_fit"),
        sum(least(col("_n"), col("max_len"))).as("tokens_kept"),
        sum(greatest(col("_n") - col("max_len"), lit(0L)))
          .as("tokens_lost"))
  }

  /** Hashed-feature linear scoring — the fastText-style quality
    * classifier's inference pass: each lowercased token hashes into one
    * of `dim` feature buckets (the hashing trick — no vocabulary file,
    * OOV-free, fixed model size), the bucket→weight table joins in as a
    * BROADCAST (a linear model is kilobytes even at dim 2^20), and a
    * document's score is the integer sum of its tokens' weights. This is
    * the shape of model-based corpus filtering (CCNet/fastText quality
    * and language filters, FineWeb-Edu's classifier gate): one explode +
    * broadcast join + per-doc partial aggregation — no shuffle of text,
    * no per-row UDF, and the weight table swaps for real trained
    * weights without touching the plan. Integer weights keep scores
    * engine-exact ([[surpriseScores]]' fixed-point discipline).
    *
    * Docs with no tokens keep score 0 via the spine join.
    *
    * Output: input columns + score (long).
    */
  def hashedLinearScore(
      df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, // (bucket long, weight long)
      dim: Int, salt: String = "feat"): DataFrame = {
    require(dim >= 2, "need dim >= 2")
    val scores = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("_tok"))
      .filter(length(col("_tok")) > 0)
      .select(col(idCol),
        (Sampling.keyHash60(col("_tok"), salt) % dim).as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(idCol)
      .agg(sum(col("weight")).as("_sc"))
    df.join(scores, Seq(idCol), "left")
      .withColumn("score", coalesce(col("_sc"), lit(0L)))
      .drop("_sc")
  }

  /** Vocabulary build: the top-`size` lowercased whitespace tokens by
    * corpus frequency, with contiguous 0-based ids ordered (count desc,
    * token asc) — the id assignment every tokenizer/embedding-table
    * pipeline needs.
    *
    * Scale shape: explode → hash groupBy count (map-side partial
    * aggregation collapses each partition to its distinct tokens before
    * the shuffle) → `orderBy.limit(size)` which Spark plans as
    * TakeOrderedAndProject (a per-partition top-`size` heap, merged on
    * the driver — the full token-count frame is never globally sorted)
    * → `row_number` over the `size` survivors only. The single-partition
    * window is bounded by the vocab size, not the corpus.
    *
    * Output: token_id (long), token, n (corpus frequency).
    */
  def buildVocab(df: DataFrame, textCol: String, size: Int): DataFrame = {
    val counts = df
      .select(explode(tokens(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(size)
    counts.select(
      (row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token").asc)) - 1)
        .cast("long").as("token_id"),
      col("token"), col("n"))
  }

  /** One BPE-training statistics pass — adjacent symbol-pair frequencies
    * over whitespace words, the inner loop of byte-pair-encoding tokenizer
    * training (count all adjacent pairs → merge the argmax → repeat). At
    * corpus scale this counting pass IS the training cost, and it is pure
    * map-reduce: words explode to per-position character pairs
    * (relational explode over an index sequence — codegen'd, no
    * interpreted array lambda in the hot path), and the pair counts
    * combine map-side before the one shuffle, whose width is bounded by
    * the alphabet (≤|Σ|² groups), not the corpus.
    *
    * Output: pair (2-char symbol pair), n (corpus frequency).
    */
  def bpePairCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(col("w"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substring(w, i, 2)").as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))

  /** Per-document vocabulary coverage: total token count and how many of
    * those tokens fall outside `vocab` (a frame with a `token` column,
    * e.g. [[buildVocab]]'s output). Blank documents report (0, 0),
    * matching [[tokenCount]]'s convention.
    *
    * Scale shape: the vocab is bounded (top-V) so it broadcasts; the
    * corpus side explodes, probes the broadcast hash table, and
    * partial-aggregates per doc before the one shuffle on the doc id.
    * Output: idCol, n_tokens, n_oov.
    */
  def oovStats(
      df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val toks = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
    val stats = toks
      .join(broadcast(vocab.select(col("token"), lit(1).as("_inv"))),
        Seq("token"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("_inv").isNull, 1)).as("n_oov"))
    df.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
  }

  /** Corpus length profile: token-count histogram per language — the
    * summary a curriculum/packing planner reads before choosing sequence
    * lengths. Bucket = n_tokens / `width` (integer floor). One map-side
    * -combining aggregation over (lang, bucket); the text itself never
    * shuffles. Output: lang, bucket, n_docs, total_tokens, min_tokens,
    * max_tokens.
    */
  def tokenLengthHistogram(
      df: DataFrame, textCol: String, width: Int): DataFrame =
    df.select(langId(col(textCol)).as("lang"),
        tokenCount(col(textCol)).cast("long").as("_nt"))
      .withColumn("bucket", floor(col("_nt") / width))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("_nt").as("total_tokens"),
        min("_nt").as("min_tokens"), max("_nt").as("max_tokens"))

  /** Per-document top-`k` keywords by rarity-weighted term frequency —
    * tf-idf with a linear idf (`score = tf / df`, the N factor is
    * constant per corpus so per-document ranking is unchanged), kept in
    * exact integer arithmetic for cross-engine determinism:
    * `score_q20 = floor(tf · 2^20 / df)`. Ties break toward the
    * lexicographically smaller token.
    *
    * Scale shape: explode → one map-side-combined count to (doc, token,
    * tf); `df` is a second partial-agg count over that frame (each row is
    * already a distinct doc×token, so no count-distinct shuffle); the
    * tf⋈df equi-join on token is AQE's call (broadcast for a bounded
    * vocabulary, shuffle-hash at web scale); the final top-k is a
    * `row_number` window partitioned by the DOC id — millions of small
    * partitions, no hot key, nothing like a global sort.
    *
    * Output: idCol, token, tf, df, score_q20, rk (1..k).
    */
  def tfIdfKeywords(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("token"))
      .withColumn("score_q20",
        expr("(tf * 1048576L) div df"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(idCol)
          .orderBy(col("score_q20").desc, col("token").asc)))
      .filter(col("rk") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("score_q20"), col("rk").cast("long").as("rk"))
  }

  /** Boilerplate segment removal — the line-level dedup of CCNet /
    * RefinedWeb (headers, nav bars, cookie banners repeated verbatim
    * across pages) on a corpus whose "lines" are fixed non-overlapping
    * `segTokens`-token blocks: a segment is BOILERPLATE when its exact
    * text occurs in at least `minDf` DISTINCT documents, and every
    * boilerplate segment is cut from every document, the remaining
    * segments re-joined in order.
    *
    * Plan shape at 100 TB — the document text NEVER shuffles:
    * per-row segment hashes → posexplode of (id, idx, hash60) triples
    * only; one map-side-combined distinct-doc count per hash; a semi-join
    * picks each doc's dropped segment INDICES, which aggregate to a tiny
    * per-doc int array; that drop-list joins back to the corpus on id
    * (broadcast when the affected-doc set is small — the common case —
    * else a co-partitioned equi-join of ids and int arrays) and the cut +
    * re-join happens inside the row via an index filter. The only wide
    * stages move 60-bit hashes and int arrays.
    *
    * Blank documents pass through unchanged with n_segments = 0
    * (tokenCount's 0-for-blank convention).
    *
    * Output: id, n_segments, dropped_segments, clean_text.
    */
  def stripBoilerplate(
      df: DataFrame, idCol: String, textCol: String,
      segTokens: Int, minDf: Int): DataFrame = {
    require(segTokens >= 1, s"segTokens $segTokens must be >= 1")
    require(minDf >= 2, s"minDf $minDf must be >= 2")
    val toks = tokens(col(textCol))
    val nSegs = when(length(trim(col(textCol))) === 0, lit(0))
      .otherwise(ceil(size(toks).cast("double") / segTokens).cast("int"))
    val base = df.select(col(idCol).as("id"), toks.as("_toks"),
      nSegs.as("n_segments"))
    def segText(arr: Column, i: Column): Column =
      array_join(slice(arr, (i - 1) * segTokens + 1, lit(segTokens)), " ")
    // lazy checkpoint of the narrow (id, idx, hash) stream: consumed by
    // the df-count and the drop semi-join — never re-derives the text
    // Dedup.bind pins the token array to a lambda variable; a bare _toks
    // reference inside the lambda would projection-collapse back to
    // split(trim(text)) and re-tokenize once per segment (the nested-HOF
    // re-evaluation trap, dev/PERF_r5.md §2)
    val segs = base
      .select(col("id"),
        Dedup.bind(col("_toks"), toks =>
          when(col("n_segments") > 0,
            transform(sequence(lit(1), col("n_segments")),
              i => Dedup.hash60Base(segText(toks, i))))
            .otherwise(array().cast("array<long>"))).as("_hs"))
      .select(col("id"), posexplode(col("_hs")).as(Seq("_i0", "h")))
      .select(col("id"), (col("_i0") + 1).as("idx"), col("h"))
      .localCheckpoint(false)
    val boiler = segs.groupBy("h")
      .agg(count_distinct(col("id")).as("_df"))
      .filter(col("_df") >= minDf).select("h")
    val drops = segs.join(boiler, Seq("h"), "left_semi")
      .groupBy("id").agg(collect_set(col("idx")).as("_drop"))
    base.join(drops, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n_segments").cast("long").as("n_segments"),
        coalesce(size(col("_drop")), lit(0)).cast("long")
          .as("dropped_segments"),
        when(col("n_segments") === 0, lit(""))
          .otherwise(Dedup.bind(col("_toks"), toks => array_join(
            transform(
              // hash-based set difference, not a per-segment
              // array_contains scan — see Dedup.cutDuplicateWindows
              array_except(
                sequence(lit(1), greatest(col("n_segments"), lit(1))),
                coalesce(col("_drop"), typedLit(Array.empty[Int]))),
              i => segText(toks, i)),
            " "))).as("clean_text"))
  }

  /** Skip-gram training-pair counts (word2vec, Mikolov et al. 2013,
    * arXiv:1301.3781): (center, context) occurrence counts for every
    * token pair within `window` positions, both directions — the
    * embedding-training data a corpus pipeline feeds to word2vec/GloVe.
    *
    * Relational plan: posexplode the token stream once, take `window`
    * `lead()` passes over (doc, pos) — per-row arrays never materialize
    * and the only wide stages are the doc-keyed sort (free when the
    * corpus is already partitioned by document) and one map-side-combined
    * count whose key space is bounded by vocabulary², not corpus size.
    *
    * Output: center, context, n (BIGINT).
    */
  def skipGramPairs(
      df: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame = {
    require(window >= 1, s"window $window must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val toksDf = df
      .select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "t")))
      .filter(length(col("t")) > 0)
    val wspec = Window.partitionBy("id").orderBy("pos")
    val leads = (1 to window).map(j => lead(col("t"), j).over(wspec).as(s"_l$j"))
    val withLeads = toksDf.select((col("t") +: leads): _*)
    val pairs = (1 to window).map { j =>
      withLeads.filter(col(s"_l$j").isNotNull)
        .select(col("t").as("center"), col(s"_l$j").as("context"))
    }.reduce(_ unionByName _)
    pairs
      .unionByName(pairs.select(col("context").as("center"),
        col("center").as("context")))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
  }

  /** BM25 lexical retrieval: top-`k` corpus documents per query by the
    * Okapi BM25 family score (k1 = 1.2, b = 0.75) — the lexical half of
    * the hybrid search whose rank fusion is
    * [[SimilaritySearch.rrfFuse]]. The idf is the LOG-FREE rational
    * (N - df + 0.5) / (df + 0.5): log is monotone per-term but `ln` is
    * not a correctly-rounded IEEE op, so the rational form (only +, /,
    * × — all correctly rounded) keeps scores bit-identical across
    * engines; each term contribution is floor-quantized to a q20 fixed
    * point and the per-(query, doc) score is a BIGINT sum, so partial
    * -aggregation order cannot change the result.
    *
    * Plan shape at 100 TB: corpus → (id, token, tf) postings via explode
    * + map-side-combined count (the inverted index — the classic BM25
    * layout); df and the (N, total_tokens) stats are two more partial
    * aggregates; the query side reduces to DISTINCT (query, term) rows —
    * tiny next to the corpus — and AQE broadcasts it into the postings
    * equi-join on the term. Corpus text never shuffles; only postings
    * triples move, and only for terms some query mentions (the join
    * prunes the rest). The final top-k window partitions by query over
    * candidate sets already shrunk to matching docs.
    *
    * STOP-TERM PRUNING (`pruneStopTerms`, default on): a term with
    * df > N/2 has rational idf < 1 (Robertson log-idf < 0 — Lucene
    * clamps it to 0, WAND skips the list), yet its postings list is by
    * definition most of the corpus. The round-6 sf1 scale run measured
    * the stop lists at 99.5% of the join volume (462M of 464M rows) for
    * ~zero rank signal; pruning them before the postings join is what
    * every production BM25 engine effectively does, and it is where the
    * 100 TB plan lives or dies. Docs matching a query ONLY on stop
    * terms drop out. Opt out only for degenerate corpora whose entire
    * vocabulary is stop terms (the synthetic gate corpus: every token
    * sits in ~80% of documents, so pruning would empty the result —
    * and full BM25 there is inherently Σdf-bound).
    *
    * Output: query_id, doc_id, n_terms (matched query terms),
    * score_q20, rk (1-based, score desc / doc_id asc).
    */
  def bm25TopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, qidCol: String, k: Int,
      pruneStopTerms: Boolean = true,
      maxPostings: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf0 = corpus
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    // with the guard on, the tokenize+combine pass feeds both the
    // estimate job and the real postings join — checkpoint it once
    val tf = if (maxPostings.isDefined) tf0.localCheckpoint(false) else tf0
    val dl = tf.groupBy("id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val qterms = queries
      .select(col(qidCol).as("qid"), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    val idf = ((col("n") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfn = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") /
            (col("tot").cast("double") / col("n").cast("double")))))
    // the prune happens on the vocabulary-sized frame, BEFORE the join
    // fans out to postings
    val liveTerms = {
      val withDf = qterms.join(dfreq, Seq("token"))
        .crossJoin(broadcast(stats))
      if (pruneStopTerms) withDf.filter(col("df") * 2 <= col("n"))
      else withDf
    }
    // candidate-mass circuit breaker: the postings join fans out exactly
    // Σ df(term) rows over the live (query, term) set. On a degenerate
    // corpus with pruning off that is ~|queries|·N (the round-6 sf10 run
    // OOM'd at 89 GB); fail fast with a routing diagnostic instead.
    maxPostings.foreach { budget =>
      val est = liveTerms
        .agg(coalesce(sum(col("df")), lit(0L)).cast("decimal(38,0)"))
        .collect()(0).getDecimal(0)
      if (est.compareTo(java.math.BigDecimal.valueOf(budget)) > 0)
        throw new CandidateMassExceededException(est, budget,
          s"bm25TopK: the live query terms fan out to an estimated $est " +
            s"postings rows, over the budget $budget — every query term " +
            "is a stop term on this corpus. Enable pruneStopTerms (the " +
            "production default: df > N/2 terms carry ~zero rank signal), " +
            "tighten the query set, or raise maxPostings deliberately.")
    }
    val terms = liveTerms
      .join(tf, Seq("token"))
      .join(dl, Seq("id"))
      .select(col("qid"), col("id"),
        floor((lit(1048576.0) * idf) * tfn).cast("long").as("tq"))
    val scored = terms.groupBy("qid", "id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tq")).as("score_q20"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("score_q20").desc, col("id").asc)))
      .filter(col("rk") <= k)
      .select(col("qid").as("query_id"), col("id").as("doc_id"),
        col("n_terms"), col("score_q20"), col("rk").cast("long").as("rk"))
  }

  /** PMI-ranked collocations — the "New York" / "machine learning"
    * detector used to build phrase vocabularies for tokenizers and
    * retrieval. PMI = log(N·c12 / (c1·c2)) is monotone in its rational
    * argument, so ranking needs no log at all: score_q20 =
    * floor(2^20·N·c12 / (c1·c2)) is integer-exact (decimal(38,0) — the
    * products overflow a long at corpus scale) and engine-portable,
    * the same log-free trick as [[bm25TopK]]'s idf.
    *
    * Shape: bigrams explode per row (adjacent [[wordNgrams]], no
    * positional self-join), unigram/bigram counts partial-aggregate
    * map-side, two equi-joins attach c1/c2, and the global top-k is an
    * orderBy+limit (TakeOrdered — per-partition heaps, never a global
    * sort materialization). `minCount` cuts the hapax noise PMI is
    * notorious for.
    *
    * Output: w1, w2, c12, c1, c2, pmi_q20 (top k by score, full
    * deterministic tiebreak).
    */
  def pmiCollocations(
      df: DataFrame, textCol: String,
      minCount: Int, k: Int): DataFrame = {
    val nonBlank = df.filter(length(trim(col(textCol))) > 0)
    val uni = nonBlank
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c")).cast("decimal(38,0)").as("_N"))
    val bi = nonBlank
      .select(explode(wordNgrams(col(textCol), 2)).as("g"))
      // tokens are whitespace-split, so the space join is reversible
      .select(split_part(col("g"), lit(" "), lit(1)).as("w1"),
        split_part(col("g"), lit(" "), lit(2)).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val num = lit(1048576).cast("decimal(38,0)") *
      col("_N") * col("c12").cast("decimal(38,0)")
    val den = (col("c1") * col("c2")).cast("decimal(38,0)")
    bi
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        ((num - num % den) / den).cast("long").as("pmi_q20"))
      .orderBy(col("pmi_q20").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** T5-style span-corruption pairs — denoising-objective training data:
    * every `everyNth`-th `spanLen`-token span is cut from the input and
    * replaced by a numbered sentinel `<X_n>`; the target is the sentinel
    * -prefixed masked spans in order. Deterministic positional masking
    * (span s masked iff s % everyNth == 0) instead of random sampling,
    * so pairs are reproducible across runs/engines and the masking RATE
    * (spanLen / (spanLen·everyNth)) is exact by construction. Pure
    * per-row array expressions — tokens bound once, no shuffle; output
    * inherits the input partitioning.
    *
    * Output: idCol, input, target, n_masked_spans. A blank document is
    * one empty token ([[tokens]] of "" is [""]), masked into span 0 —
    * every row is represented, like [[chunkWithOverlap]].
    */
  def spanCorruptionPairs(
      df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 3, everyNth: Int = 7): DataFrame = {
    require(spanLen > 0 && everyNth > 1, "spanLen > 0, everyNth > 1")
    def spanOf(i: Column): Column =
      ((i - pmod(i, lit(spanLen))) / spanLen).cast("int")
    def sentinel(i: Column): Column =
      concat(lit("<X_"),
        ((spanOf(i) - pmod(spanOf(i), lit(everyNth))) / everyNth).cast("int"),
        lit(">"))
    val empty = array().cast("array<string>")
    df.select(col(idCol), Dedup.bind(tokens(col(textCol)), toks =>
        Dedup.bind(sequence(lit(0), size(toks) - 1), idxs => struct(
          array_join(flatten(transform(idxs, i =>
            when(pmod(spanOf(i), lit(everyNth)) =!= 0,
                array(element_at(toks, i + 1)))
              .when(pmod(i, lit(spanLen)) === 0, array(sentinel(i)))
              .otherwise(empty))), " ").as("input"),
          array_join(flatten(transform(
            filter(idxs, i => pmod(i, lit(spanLen)) === 0 &&
              pmod(spanOf(i), lit(everyNth)) === 0),
            i => concat(array(sentinel(i)), slice(toks, i + 1, lit(spanLen))))),
            " ").as("target"),
          size(filter(idxs, i => pmod(i, lit(spanLen)) === 0 &&
            pmod(spanOf(i), lit(everyNth)) === 0)).cast("long")
            .as("n_masked_spans")))).as("_p"))
      .select(col(idCol), col("_p.input"), col("_p.target"),
        col("_p.n_masked_spans"))
  }

  /** Cyrillic homoglyphs that render identically to Latin letters, plus
    * zero-width characters (deleted — `translate` drops `from` chars
    * with no `to` counterpart). */
  private val ConfusableFrom =
    "аеорсух" + // Cyrillic lowercase lookalikes
    "АВЕКМНОРСТХ" + // Cyrillic uppercase lookalikes
    "\u200b\u200c\u200d\uFEFF" // zero-width space/joiners/BOM
  private val ConfusableTo = "aeopcyx" + "ABEKMHOPCTX"

  /** Unicode-confusable normalization — the adversarial-dedup pass a
    * web corpus needs BEFORE exact/canonical dedup: spam and SEO farms
    * evade duplicate detection by swapping Latin letters for identical
    * -looking Cyrillic ones and salting zero-width characters, which
    * defeats hash-based dedup while looking unchanged to a reader.
    * One codegen `translate` per row (char-to-char map + zero-width
    * deletion) — no regex, no UDF, no shuffle.
    */
  def confusableNormalize(c: Column): Column =
    translate(c, ConfusableFrom, ConfusableTo)

  /** Per-document top-k terms by tf·idf — keyword extraction for index
    * building and topic tagging. idf is the log-free rational form
    * N/df (the [[pmiCollocations]] / [[bm25TopK]] trick: log is
    * monotone, so ranking needs only the rational argument):
    * score_q20 = floor(2^20 · tf · N / df), integer-exact in
    * decimal(38,0) and engine-portable.
    *
    * Shape: one tokenize+explode → (doc, term, tf) partial-aggregated
    * map-side → df by a second aggregation OF THE TF FRAME (no second
    * scan of the corpus) → vocab-keyed equi-join attaches df → per-doc
    * top-k is a KEYED window (doc_id partitions — never a global sort).
    * The corpus-total N rides a broadcast 1-row frame.
    *
    * Output: doc_id-keyed (id, term, tf, df, score_q20, rk), rk <= k,
    * ties broken by term asc. Blank documents yield no rows.
    */
  def tfidfTopTerms(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "k must be positive")
    val tf = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).cast("decimal(38,0)").as("_N"))
    val num = lit(1048576).cast("decimal(38,0)") *
      col("tf").cast("decimal(38,0)") * col("_N")
    val den = col("df").cast("decimal(38,0)")
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_q20").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        ((num - num % den) / den).cast("long").as("score_q20"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** CCNet-style LM surprise scoring: each document's mean token
    * surprisal under an add-one-smoothed unigram model trained on
    * `ref`, used to split a corpus into head/middle/tail quality
    * buckets (Wenzek et al., CCNet — there with a KenLM 5-gram; the
    * unigram form is the same pipeline with a cheaper model).
    *
    * Log-free exactness: surprisal −log p(t) is monotone in
    * 1/p(t) = (T + V)/(c_t + 1) (T = reference token count, V =
    * reference vocab size; unseen tokens get c_t = 0), so each token
    * carries the integer s_q20 = floor(2^20·(T+V)/(c_t+1)) and a
    * document scores floor(Σ s_q20 / n_tokens) — engine-portable with
    * no transcendentals, same discipline as [[dsirWeights]].
    *
    * Buckets are corpus-relative equi-depth thirds of the score
    * ([[Profile.valueRankBuckets]] — distributed rank, no global-sort
    * window): 0 = head (low surprise, in-distribution), 1 = middle,
    * 2 = tail.
    *
    * Shape: the reference model is a (term → count) aggregate; corpus
    * tokens left-join it on term (vocab-keyed — AQE broadcasts when the
    * model is small, exactly the [[dsirWeights]] join) and aggregate
    * per document. Blank documents are excluded (no tokens to score).
    *
    * Output: (id, n_tokens, surprise_q20, bucket).
    */
  def surpriseScores(
      df: DataFrame, ref: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val refTok = ref.filter(length(trim(col(textCol))) > 0)
      .select(explode(tokens(col(textCol))).as("term"))
    val model = refTok.groupBy("term").agg(count(lit(1)).as("_c"))
    val tv = model.agg((sum(col("_c")) + count(lit(1)))
      .cast("decimal(38,0)").as("_tv"))
    val num = lit(1048576).cast("decimal(38,0)") * col("_tv")
    val den = (coalesce(col("_c"), lit(0L)) + lit(1L)).cast("decimal(38,0)")
    val scored = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .join(model, Seq("term"), "left")
      .crossJoin(broadcast(tv))
      .select(col(idCol),
        ((num - num % den) / den).cast("long").as("_s"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum(col("_s")).as("_ss"))
      .select(col(idCol), col("n_tokens"),
        expr("_ss div n_tokens").as("surprise_q20"))
      // pinned: the bucket map and the final row join both consume the
      // scored frame — unpinned, the whole explode+model-join pipeline
      // ran twice (measured ~2× at sf0.1)
      .localCheckpoint(false)
    val buckets = Profile.valueRankBuckets(scored, "surprise_q20", 3)
    scored.join(buckets, scored("surprise_q20") === buckets("_v"))
      .select(col(idCol), col("n_tokens"), col("surprise_q20"),
        col("bucket"))
  }
}
