package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Scalars
import graft.Checkpoints.TruncateOps

/** Text-analysis ops for training-data pipelines: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting.
  *
  * All pure Column expressions (codegen'd, no UDFs) — at 100 TB these run
  * inside the scan stage with zero extra shuffles.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(Scalars.tokens(text))

  /** Distinct-token ratio — a repetition/quality signal. */
  def distinctRatio(text: Column): Column = {
    val t = Scalars.tokens(text)
    size(array_distinct(t)).cast("double") / size(t)
  }

  /** Ratio of non-letter, non-digit, non-whitespace characters —
    * punctuation / markup noise signal. Unicode classes, not ASCII:
    * an `[^a-zA-Z0-9 ]` form would count every accented/Cyrillic/CJK
    * letter (and newlines) as "punctuation" and torpedo the quality
    * score of clean non-English text. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", "")))
      .cast("double") / greatest(length(text), lit(1))

  /** A small built-in English stopword profile. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "on", "for")

  /** Composite quality score in [0,1]: rewards lexical diversity and
    * clean characters, penalizes stopword stuffing. Weights are the
    * usual heuristic mix (Gopher/C4-style rule-of-thumb filters).
    * Empty/whitespace-only text scores 0 — without the guard the
    * phantom [""] token gives junk rows a perfect 1.0 and a
    * quality-ranked curation would keep them preferentially. */
  def qualityScore(text: Column): Column =
    qualityScoreOfTokens(text, Scalars.tokens(text))

  /** [[qualityScore]] over an already-materialized token array — bind
    * `toks` to an attribute on hot paths so one split serves all three
    * component ratios (the [[repetitionStats]] staging rule). The
    * formula is shared with the scalar form, so the two can never
    * drift. */
  def qualityScoreOfTokens(text: Column, toks: Column): Column = {
    val n = size(toks)
    val distinct = size(array_distinct(toks)).cast("double") / n
    val stop = size(filter(toks,
      x => EnStopwords.map(s => x === s).reduce(_ || _)))
      .cast("double") / n
    when(length(trim(text)) === 0, 0.0).otherwise(
      distinct * lit(0.5) +
        (lit(1.0) - punctRatio(text)) * lit(0.3) +
        (lit(1.0) - stop) * lit(0.2))
  }

  /** Language-ID: stopword-profile scoring over substantial per-language
    * profiles (~75 high-frequency function words each — the standard
    * public stopword inventories), plus a Han-script pre-check for
    * Chinese (script detection beats any whitespace-token profile for
    * CJK). Best profile by raw hit count wins; no hits → "und"; ties
    * resolve to the alphabetically-last language, deterministically.
    * The profiles are DATA — this map is the single source for both the
    * Spark expression and the DuckDB oracle SQL (LlmQueries.langHitsSql
    * renders the same lists), so swapping in corpus-tuned profiles
    * keeps the correctness gate intact. Accuracy against labeled
    * fixtures is spec-gated (DedupSpec "language-ID accuracy").
    * Ref target: conversions.py:395-417 (lingua with thresholds). */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(
      "the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
      "on", "are", "with", "as", "at", "by", "be", "this", "have", "from",
      "or", "had", "not", "but", "what", "all", "were", "when", "we",
      "there", "can", "an", "your", "which", "their", "said", "if",
      "will", "one", "about", "out", "who", "get", "has", "him", "his",
      "her", "they", "them", "these", "than", "then", "into", "some",
      "could", "our", "been", "also", "more", "no", "other", "only",
      "its", "over", "very", "just", "after", "most", "before",
      "between", "because", "through", "during", "without", "under",
      "again", "where", "how", "why", "any", "each", "such", "you",
      "he", "she", "would", "should", "does", "did"),
    "de" -> Seq(
      "der", "die", "das", "und", "ist", "den", "von", "zu", "mit",
      "sich", "des", "auf", "für", "im", "dem", "nicht", "ein", "eine",
      "als", "auch", "es", "an", "werden", "aus", "er", "hat", "dass",
      "sie", "nach", "wird", "bei", "einer", "um", "am", "sind", "noch",
      "wie", "einem", "über", "einen", "so", "zum", "war", "haben",
      "nur", "oder", "aber", "vor", "zur", "bis", "mehr", "durch",
      "man", "sein", "wurde", "sei", "wenn", "unter", "wir", "soll",
      "ich", "eines", "diese", "dieser", "wieder", "keine", "ihre",
      "seine", "gegen", "vom", "können", "schon", "habe", "muss",
      "seit", "jetzt", "immer", "doch", "hier", "alle", "beim"),
    "fr" -> Seq(
      "le", "la", "les", "et", "est", "des", "du", "un", "une", "dans",
      "que", "qui", "pour", "sur", "avec", "au", "aux", "ce", "cette",
      "ces", "il", "elle", "ils", "elles", "ne", "pas", "plus", "par",
      "mais", "ou", "où", "comme", "si", "nous", "vous", "leur",
      "leurs", "son", "sa", "ses", "être", "avoir", "fait", "faire",
      "tout", "tous", "toute", "toutes", "autre", "autres", "même",
      "aussi", "bien", "encore", "là", "déjà", "ont", "sont", "était",
      "été", "sans", "sous", "entre", "après", "avant", "depuis",
      "pendant", "contre", "chez", "donc", "alors", "ainsi", "peut",
      "doit", "très", "peu", "beaucoup", "quand", "cela", "votre"),
    "es" -> Seq(
      "el", "la", "los", "las", "de", "que", "y", "en", "un", "una",
      "es", "por", "con", "no", "para", "su", "al", "lo", "como",
      "más", "pero", "sus", "le", "ya", "o", "este", "sí", "porque",
      "esta", "entre", "cuando", "muy", "sin", "sobre", "también",
      "me", "hasta", "hay", "donde", "quien", "desde", "todo", "nos",
      "durante", "todos", "uno", "les", "ni", "contra", "otros",
      "ese", "eso", "ante", "ellos", "esto", "antes", "algunos",
      "qué", "unos", "yo", "otro", "otras", "otra", "él", "tanto",
      "esa", "estos", "mucho", "quienes", "nada", "muchos", "cual",
      "poco", "ella", "estar", "estas", "algunas", "algo", "nosotros"))

  /** Any Han-script character → Chinese (script check first: CJK text
    * carries no whitespace-delimited stopwords to score). */
  val HanPattern = "\\p{IsHan}"

  def langId(text: Column): Column = {
    val t = Scalars.tokens(text)
    // Distinct-stopword hits via array_intersect: one hash-set build of
    // the profile per row, O(tokens) probes — not O(tokens × profile)
    // like a per-token array_contains scan (3.7× faster at 80-word
    // profiles). Distinct counting is also the better signal: a single
    // loanword repeated 50 times no longer outvotes a real profile.
    val scored = LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(array_intersect(t, typedLit(words))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    // Null text stays null (not "und" — absence of text is not a
    // detected-unknown language).
    when(text.isNull, lit(null).cast("string"))
      .when(text.rlike(HanPattern), lit("zh"))
      .when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Document fingerprint: md5 of the token-sorted canonical form —
    * an order-insensitive content identity (exact-dedup key). */
  def fingerprint(text: Column): Column = md5(Scalars.canonicalText(text))

  /** BPE-ish subword segmentation count: GPT-2-style pre-tokenizer
    * regex — word pieces, number runs, punctuation runs — a far better
    * token-cost estimate than whitespace splitting on code/markup. */
  val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Non-distinct word n-grams, order kept (unlike [[graft.llm.Dedup]]'s
    * `shingles`, which dedups for set-similarity) — repetition analysis
    * needs the multiplicities. Texts shorter than n grams yield an
    * empty array. */
  def ngrams(text: Column, n: Int): Column =
    ngramsOfTokens(Scalars.tokens(text), n)

  /** Same over an already-materialized token-array column — bind `t`
    * to an attribute on hot paths (see [[repetitionStats]]). */
  def ngramsOfTokens(t: Column, n: Int): Column = {
    require(n >= 1, "ngram order must be >= 1")
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => array_join(slice(t, i + 1, lit(n)), " ")))
      .otherwise(typedLit(Seq.empty[String]))
  }

  /** Fraction of n-grams that are repeats of an earlier one —
    * the Gopher/MassiveText repetition signal (boilerplate, keyword
    * stuffing, decode loops). 0.0 for texts with no n-grams.
    *
    * Scalar/test form — on hot paths use [[repetitionStats]]: here the
    * n-gram lambda re-tokenizes per element and each consuming column
    * repeats the construction (measured 34× slower at corpus scale). */
  def dupNgramFrac(text: Column, n: Int): Column =
    dupFracOf(ngrams(text, n))

  /** Repeat fraction of a pre-built n-gram array column. */
  def dupFracOf(ng: Column): Column =
    when(size(ng) === 0, lit(0.0))
      .otherwise((size(ng) - size(array_distinct(ng))) / size(ng))

  /** The hashed n-gram array itself — stage this behind a generator
    * barrier on hot paths ([[repetitionStats]]/[[funnelStats]]) so the
    * multiple references inside [[dupFracOf]] read a bound attribute
    * instead of re-running the transform. */
  private[graft] def hashNgrams(toks: Column, n: Int): Column = {
    require(n >= 2, s"hashed n-grams need n >= 2, got $n")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => xxhash64((1 to n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(typedLit(Seq.empty[Long]))
  }

  /** Frequency share of the single most common token, still inside the
    * scan (zero shuffle): sort the tokens and fold for the longest run
    * of equal neighbors — O(n log n) per document. (The obvious
    * distinct×filter HOF is quadratic per row and measured 33 s on the
    * sf0.1 corpus vs sub-second for this form; the explode→count→max
    * aggregation remains the fallback for unbounded documents.) */
  def topTokenFrac(text: Column): Column =
    longestRunFrac(array_sort(Scalars.tokens(text)))

  /** Longest-equal-run share of a SORTED array column — the mode
    * frequency without a quadratic distinct×filter scan. */
  def longestRunFrac(sorted: Column): Column = {
    val folded = aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      })
    folded.getField("best") / size(sorted)
  }

  /** Gopher-inspired repetition gate (simplified thresholds): drop
    * documents dominated by one token or by repeated 2/3-grams. */
  def repetitionKeep(text: Column,
                     maxTopTokenFrac: Double = 0.20,
                     maxDup2Frac: Double = 0.20,
                     maxDup3Frac: Double = 0.18): Column =
    topTokenFrac(text) <= maxTopTokenFrac &&
      dupNgramFrac(text, 2) <= maxDup2Frac &&
      dupNgramFrac(text, 3) <= maxDup3Frac

  /** Dataframe-level repetition stats: adds `top_token_frac`,
    * `dup_2gram_frac`, `dup_3gram_frac`, `keep` to `df`.
    *
    * Same semantics as the scalar columns above, but the hot-path
    * form: the scalar HOFs re-evaluate `split(text)` INSIDE their
    * lambdas (a column reference in a lambda body is re-executed per
    * element — measured 33 s on sf0.1 vs 0.24 s for one tokenize), and
    * CollapseProject re-inlines any `withColumn` staging, so each
    * output column would redo the whole construction. Here tokens and
    * both HASHED n-gram arrays ([[hashNgrams]] — same fractions as the
    * string form without its per-position string allocation) are
    * materialized once per row behind `explode(array(…))` generator
    * barriers — projections do not collapse across a Generator — and
    * every stat then reads bound attributes. Still zero shuffle. */
  def repetitionStats(df: DataFrame, text: String,
                      maxTopTokenFrac: Double = 0.20,
                      maxDup2Frac: Double = 0.20,
                      maxDup3Frac: Double = 0.18): DataFrame =
    df
      .withColumn("__toks", explode(array(Scalars.tokens(col(text)))))
      .withColumn("__rep", explode(array(struct(
        array_sort(col("__toks")).as("sorted"),
        hashNgrams(col("__toks"), 2).as("g2"),
        hashNgrams(col("__toks"), 3).as("g3")))))
      .withColumn("top_token_frac", longestRunFrac(col("__rep.sorted")))
      .withColumn("dup_2gram_frac", dupFracOf(col("__rep.g2")))
      .withColumn("dup_3gram_frac", dupFracOf(col("__rep.g3")))
      .withColumn("keep",
        col("top_token_frac") <= maxTopTokenFrac &&
          col("dup_2gram_frac") <= maxDup2Frac &&
          col("dup_3gram_frac") <= maxDup3Frac)
      .drop("__toks", "__rep")

  /** Gopher/MassiveText rule-based quality signals (Rae et al. 2021,
    * §A1.1 — public thresholds), completing the t-family beyond the
    * repetition gate: word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (# and ellipsis), bullet-/ellipsis-line
    * fractions, alphabetic-word fraction, and a minimum distinct-
    * stopword count. All per-row Column expressions inside the scan —
    * zero shuffle, codegen'd, no UDFs. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Hash sign or ellipsis (3 dots or the Unicode char) — the two
    * symbol classes Gopher's symbol-to-word ratio counts. */
  val SymbolRe = "#|\\.\\.\\.|…"
  /** A trimmed line whose first char is a bullet marker. */
  val BulletRe = "^[-*•]"
  /** A trimmed line ending in an ellipsis. */
  val EllipsisRe = "(\\.\\.\\.|…)$"

  /** Dataframe-level Gopher stats: adds `n_words`, `mean_word_len`,
    * `symbol_word_ratio`, `bullet_line_frac`, `ellipsis_line_frac`,
    * `alpha_word_frac`, `stop_hits`, `keep` to `df`. Tokens and lines
    * are staged once behind a generator barrier (the
    * [[repetitionStats]] pattern) so the eight consuming columns don't
    * re-split the text. Null text yields null stats and keep=false
    * (absent text is not a keepable document). */
  def gopherStats(df: DataFrame, text: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame =
    df
      .withColumn("__g", explode(array(struct(
        Scalars.tokens(col(text)).as("toks"),
        split(col(text), "\n").as("lines")))))
      .withColumns(gopherCols(col(text), col("__g.toks"), col("__g.lines")))
      .withColumn("keep", gopherKeep(minWords, maxWords, minMeanWordLen,
        maxMeanWordLen, maxSymbolRatio, maxBulletFrac, maxEllipsisFrac,
        minAlphaFrac, minStopHits))
      .drop("__g")

  /** The seven Gopher signal columns from bound (text, toks, lines)
    * attributes — shared by [[gopherStats]] and [[funnelStats]] so the
    * chained and fused forms cannot drift. The word count is inlined
    * per ratio (size() on an attribute-bound array is O(1) — no
    * lateral name resolution needed inside the one projection). */
  private[graft] def gopherCols(text: Column, toks: Column,
                         lines: Column): Map[String, Column] = {
    import scala.collection.immutable.ListMap
    val nWords = size(toks).cast("long")
    ListMap(
      "n_words" -> nWords,
      "mean_word_len" ->
        (aggregate(toks, lit(0L), (acc, x) => acc + length(x))
          .cast("double") / nWords),
      "symbol_word_ratio" ->
        (size(regexp_extract_all(text, lit(SymbolRe), lit(0)))
          .cast("double") / nWords),
      "bullet_line_frac" ->
        (size(filter(lines, l => trim(l).rlike(BulletRe)))
          .cast("double") / size(lines)),
      "ellipsis_line_frac" ->
        (size(filter(lines, l => trim(l).rlike(EllipsisRe)))
          .cast("double") / size(lines)),
      "alpha_word_frac" ->
        (size(filter(toks, t => t.rlike("\\p{L}")))
          .cast("double") / nWords),
      "stop_hits" ->
        size(array_intersect(toks, typedLit(GopherStopwords))).cast("long"))
  }

  /** The Gopher keep decision over the [[gopherCols]] columns. */
  private def gopherKeep(minWords: Int, maxWords: Int,
                         minMeanWordLen: Double, maxMeanWordLen: Double,
                         maxSymbolRatio: Double, maxBulletFrac: Double,
                         maxEllipsisFrac: Double, minAlphaFrac: Double,
                         minStopHits: Int): Column = coalesce(
    col("n_words").between(minWords, maxWords) &&
      col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
      col("symbol_word_ratio") <= maxSymbolRatio &&
      col("bullet_line_frac") <= maxBulletFrac &&
      col("ellipsis_line_frac") <= maxEllipsisFrac &&
      col("alpha_word_frac") >= minAlphaFrac &&
      col("stop_hits") >= minStopHits, lit(false))

  /** The fused curation-funnel scan: every per-row gate signal the
    * pre-training funnel needs — repetition keep, Gopher keep, quality
    * score, exact-dedup fingerprint — from ONE tokenization and ONE
    * token sort per row. Chaining [[repetitionStats]] →
    * [[gopherStats]] → [[qualityScore]] → [[fingerprint]] re-splits
    * the text once per stage (and the fingerprint re-sorts what the
    * repetition gate already sorted); at corpus scale the text HOFs
    * ARE the scan cost, so the funnel pays ~5 tokenizations where this
    * pays one. Adds exactly `rep_keep`, `gop_keep`, `quality`, `fp`;
    * per-signal numeric columns stay with the single-purpose forms.
    * Output values are bit-identical to the chained forms — the
    * expressions are built by the same shared helpers.
    *
    * `native = true` swaps the HOF-lambda projection for the
    * single-pass [[graft.plans.FunnelGatesExpr]] (one compiled loop
    * per document instead of hundreds of interpreted lambda evals per
    * row — the production form for heavy scans; PipelineSpec pins the
    * two forms column-identical). */
  def funnelStats(df: DataFrame, text: String,
                  maxTopTokenFrac: Double = 0.20,
                  maxDup2Frac: Double = 0.20, maxDup3Frac: Double = 0.18,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
                  native: Boolean = false): DataFrame =
    if (native) {
      graft.plans.FunnelGatesExpr.register(df.sparkSession)
      df
        // Generator barrier: the struct is materialized once per row;
        // the four field reads below bind the attribute instead of
        // inlining (and re-running) the expression per column.
        .withColumn("__fg", explode(array(call_function(
          graft.plans.FunnelGatesExpr.Name, col(text),
          lit(maxTopTokenFrac), lit(maxDup2Frac), lit(maxDup3Frac),
          lit(minWords), lit(maxWords),
          lit(minMeanWordLen), lit(maxMeanWordLen),
          lit(maxSymbolRatio), lit(maxBulletFrac), lit(maxEllipsisFrac),
          lit(minAlphaFrac), lit(minStopHits)))))
        .withColumn("rep_keep", col("__fg.rep_keep"))
        // Null text: the expression yields a null struct; the
        // declarative form's gop_keep coalesces to false there.
        .withColumn("gop_keep", coalesce(col("__fg.gop_keep"), lit(false)))
        .withColumn("quality", col("__fg.quality"))
        .withColumn("fp", col("__fg.fp"))
        .drop("__fg")
    } else df
      .withColumn("__toks", explode(array(Scalars.tokens(col(text)))))
      .withColumn("__f", explode(array(struct(
        array_sort(col("__toks")).as("sorted"),
        hashNgrams(col("__toks"), 2).as("g2"),
        hashNgrams(col("__toks"), 3).as("g3"),
        split(col(text), "\n").as("lines")))))
      .withColumns(gopherCols(col(text), col("__toks"), col("__f.lines")))
      .withColumn("rep_keep",
        longestRunFrac(col("__f.sorted")) <= maxTopTokenFrac &&
          dupFracOf(col("__f.g2")) <= maxDup2Frac &&
          dupFracOf(col("__f.g3")) <= maxDup3Frac)
      .withColumn("gop_keep", gopherKeep(minWords, maxWords, minMeanWordLen,
        maxMeanWordLen, maxSymbolRatio, maxBulletFrac, maxEllipsisFrac,
        minAlphaFrac, minStopHits))
      .withColumn("quality",
        qualityScoreOfTokens(col(text), col("__toks")))
      .withColumn("fp", md5(array_join(col("__f.sorted"), " ")))
      .drop("__toks", "__f", "n_words", "mean_word_len",
        "symbol_word_ratio", "bullet_line_frac", "ellipsis_line_frac",
        "alpha_word_frac", "stop_hits")

  /** Order-SENSITIVE rolling-hash fingerprint (Rabin–Karp polynomial
    * over token hashes, mod 2^40 so the ANSI-mode multiply can't
    * overflow a long): distinguishes permuted texts that [[fingerprint]]
    * deliberately identifies. Token hash = first 10 hex chars of md5 —
    * portable to the SQL oracle. */
  def rollingFingerprint(text: Column): Column = {
    val mod = 1099511627776L // 2^40
    aggregate(
      Scalars.tokens(text),
      lit(0L),
      (acc, tok) => pmod(
        acc * 31 + conv(substring(md5(tok), 1, 10), 16, 10).cast("long"),
        lit(mod)))
  }

  /** PII scrubbing — deterministic regex redaction of emails, IPv4
    * addresses and phone-like numbers, the standard pre-training
    * hygiene pass. Patterns stay inside the RE2-compatible subset (no
    * backreferences/lookaround), so the scrub is engine-portable
    * (t9's DuckDB oracle) and runs under codegen — pure per-row
    * projection, no UDF, no shuffle. Replacement order is fixed
    * (email → IP → phone) so a pattern never eats a prior token's
    * remnants; counts are taken on the ORIGINAL text. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  // ≥9 digits with optional ()/space/tab/dash separators between them:
  // long enough that ISO dates (2019-04-01: 8 digits) and years never
  // redact, short enough to catch any number with a country/area code.
  // Separator runs are BOUNDED ({0,3} — real numbers use at most ") "
  // or " - " between groups) and exclude newlines, so digits scattered
  // across lines (numeric table rows/columns) can never collapse into
  // one giant <PHONE>. Still recall-biased within a line — a 9+-digit
  // id with dashes, or a same-line year list ('2019 2020 2021'),
  // redacts as <PHONE>; deliberate for pre-training hygiene. The
  // accepted miss class is bare national numbers of ≤8 digits (7-digit
  // US local, 8-digit HK/SG/DK): an 8-digit cutoff cannot coexist with
  // date safety because yyyy-mm-dd is itself 8 digits — prefixed forms
  // of those numbers (+45 ..., with area code) still redact.
  val PhoneRe = "\\+?([0-9][ \\t()-]{0,3}){8,}[0-9]"

  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** HTML → main-content text extraction (the crawl front door;
    * contract and stage definitions in [[graft.plans.HtmlText]]).
    * Returns the input frame plus `text` REPLACED by the extracted
    * main content and `n_lines_kept` / `n_lines_dropped` (bigint) —
    * feed the result straight into the funnel/dedup/lang operators.
    *
    * `native = true` swaps the per-line HOF lambdas for the fused
    * single-pass [[graft.plans.HtmlExtractExpr]] (one compiled eval
    * per document — HOF lambdas evaluate interpreted, per char/word);
    * the two forms share the stage-A/B patterns by construction and
    * TextAnalysisSpec pins them equal on adversarial fragments. The
    * declarative form exists because every stage is DuckDB-replayable
    * — it IS the oracle's spelling (t16). */
  def htmlExtractStats(df: DataFrame, html: String,
                       native: Boolean = false): DataFrame = {
    import graft.plans.HtmlText
    val passthrough = df.columns.filter(_ != html).map(col).toSeq
    if (native) {
      graft.plans.HtmlExtractExpr.register(df.sparkSession)
      // Generator barrier (the funnelStats discipline): one eval per
      // row, field reads bind the attribute.
      df.withColumn("__hx", explode(array(call_function(
          graft.plans.HtmlExtractExpr.Name, col(html)))))
        .select(passthrough ++ Seq(
          col("__hx.text").as("text"),
          col("__hx.n_lines_kept").cast("long").as("n_lines_kept"),
          col("__hx.n_lines_dropped").cast("long").as("n_lines_dropped")): _*)
    } else {
      val marker = HtmlText.Marker.toString
      // Stages A-D: the shared pattern chain (see HtmlText scaladoc).
      val stripped = Seq(HtmlText.CommentPat -> "",
          HtmlText.ScriptPat -> "", HtmlText.StylePat -> "",
          HtmlText.AnchorPat -> marker, HtmlText.BlockPat -> "\n",
          HtmlText.TagPat -> "")
        .foldLeft(col(html)) { case (acc, (pat, rep)) =>
          regexp_replace(acc, lit(pat), lit(rep)) }
      val decoded = HtmlText.Entities
        .foldLeft(stripped) { case (acc, (ent, ch)) =>
          replace(acc, lit(ent), lit(ch)) }
      val collapsed = regexp_replace(decoded, lit("[ \\t\\r]+"), lit(" "))
      // Stage E: per-line keep decision + cleanup, behind a generator
      // barrier so the line array materializes once.
      val lines = transform(split(collapsed, "\n"), l => trim(l))
      def words(l: Column) =
        filter(split(replace(l, lit(marker), lit("")), " "),
          w => w =!= "")
      def keepLine(l: Column) = {
        val ws = words(l)
        val nw = size(ws)
        val links = length(l) - length(replace(l, lit(marker), lit("")))
        val alpha = size(filter(ws, w => w.rlike("\\p{L}")))
        nw >= 3 && links * 2 <= nw && alpha * 2 >= nw
      }
      df.withColumn("__hl", explode(array(struct(
          filter(lines, l => l =!= "" && keepLine(l)).as("kept"),
          size(filter(lines, l => l =!= "")).as("n_content")))))
        .select(passthrough ++ Seq(
          array_join(transform(col("__hl.kept"), l =>
            trim(regexp_replace(replace(l, lit(marker), lit("")),
              lit(" +"), lit(" ")))), "\n").as("text"),
          size(col("__hl.kept")).cast("long").as("n_lines_kept"),
          (col("__hl.n_content") - size(col("__hl.kept")))
            .cast("long").as("n_lines_dropped")): _*)
    }
  }

  /** Benchmark decontamination — per-document n-gram overlap against a
    * held-out set (the standard train/test contamination check a
    * training-data pipeline runs before every release: a document
    * sharing too many word n-grams with an eval benchmark leaks the
    * benchmark into training). Returns the input plus `n_ngrams`
    * (distinct n-grams in the doc), `n_matched` (of those, how many
    * occur anywhere in the benchmark set), `contamination`
    * (matched/total, 0.0 for n-gram-less docs) and `contaminated`
    * (fraction ≥ threshold).
    *
    * Scale shape: benchmark suites are tiny next to a 100 TB corpus,
    * so the benchmark's distinct n-gram set broadcasts
    * (`broadcastBench=false` switches to a shuffle join for the rare
    * huge-benchmark case); the corpus side explodes each doc's
    * DISTINCT n-grams once and folds straight back down with one
    * map-side-combinable aggregation on the doc key. Nothing pairwise,
    * nothing quadratic: cost is O(corpus tokens) + one broadcast.
    * N-grams join as plain strings so the check is engine-portable
    * (t8's DuckDB oracle); `hashed=true` is the production form —
    * n-grams become multi-arg xxhash64 over the token window (the
    * pipe17 hashNgrams discipline: no n-gram STRING is ever built,
    * which is where the string form's time goes), the plan shape is
    * unchanged, and TwinConsistencySpec pins its counts to the
    * portable form's. */
  def contaminationStats(docs: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         n: Int = 8, threshold: Double = 0.1,
                         broadcastBench: Boolean = true,
                         hashed: Boolean = false): DataFrame = {
    // Tokens are staged as an attribute behind a generator barrier on
    // both sides (the repetitionStats pattern): ngrams() inlining the
    // tokenizer into the per-element lambda re-splits the text once
    // per n-gram slot — quadratic in document length on the hot path.
    def docNgrams(df: DataFrame, idC: Column, textC: Column): DataFrame =
      if (hashed) {
        // Production keys come straight off the text bytes (native
        // single-pass tokenize+hash, no token array) — bit-identical
        // to hashNgrams over the staged tokens, DedupSpec-pinned.
        graft.plans.NgramHashesExpr.register(df.sparkSession)
        df.select(idC.as("__cid"),
          explode(array_distinct(call_function(
            graft.plans.NgramHashesExpr.Name, textC, lit(n)))).as("__ng"))
      } else df.select(idC.as("__cid"),
          explode(array(graft.functions.Scalars.tokens(textC))).as("__t"))
        .select(col("__cid"),
          explode(array_distinct(ngramsOfTokens(col("__t"), n))).as("__ng"))
    val bench = docNgrams(benchmark, lit(0), col(benchTextCol))
      .select("__ng").distinct()
      .withColumn("__hit", lit(1))
    val benchSide = if (broadcastBench) broadcast(bench) else bench
    // One n-gram construction pass: total and matched fold out of the
    // same exploded table (n-gram string building dominates cost — a
    // measured two-pass variant that recomputed the n-grams to shrink
    // the aggregation input ran ~1.5× slower).
    val perDoc = docNgrams(docs, col(idCol), col(textCol))
      .join(benchSide, Seq("__ng"), "left")
      .groupBy("__cid")
      .agg(count(lit(1)).as("__n"),
           sum(coalesce(col("__hit"), lit(0))).as("__m"))
    docs.join(perDoc, col(idCol) === col("__cid"), "left")
      .withColumn("n_ngrams", coalesce(col("__n"), lit(0L)))
      .withColumn("n_matched", coalesce(col("__m"), lit(0L)))
      .withColumn("contamination",
        when(col("n_ngrams") > 0,
          col("n_matched").cast("double") / col("n_ngrams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", col("contamination") >= threshold)
      .drop("__cid", "__n", "__m")
  }

  /** Linear quality-classifier INFERENCE over hashed bag-of-words —
    * the serving half of a fastText-style quality filter (the
    * FineWeb-Edu / CCNet shape: train a tiny linear model offline,
    * score every document at ingest). The model arrives as a
    * `weights` DataFrame (feature BIGINT, w BIGINT) — integer-
    * quantized weights, which is both how a trained model ships
    * (quantization is standard for fastText) and what keeps every
    * score an exact integer `Σ_f count_f · w_f`, portable across
    * engines and safe under any aggregation order.
    *
    * Scale shape: the model broadcasts (≤ `buckets` rows), token
    * hashing is a codegen'd projection on the scan, and the per-doc
    * score is one map-side-combinable sum — the whole pass is one
    * scan + one doc-keyed aggregation, nothing model-side scales
    * with the corpus.
    *
    * Output: (id, score BIGINT, positive BOOLEAN) for every doc;
    * `positive` = score > 0 (the keep decision of a filter at
    * threshold 0). */
  def linearClassifierScore(docs: DataFrame, id: String, text: String,
                            weights: DataFrame,
                            buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"linearClassifierScore: buckets >= 2: $buckets")
    val feats = docs
      .select(col(id).as("__id"), explode(Scalars.tokens(col(text))).as("tok"))
      .select(col("__id"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).as("feature"))
    val perDoc = feats.groupBy("__id", "feature").agg(count(lit(1)).as("c"))
    val scored = perDoc.join(broadcast(weights), Seq("feature"))
      .groupBy("__id").agg(sum(col("c") * col("w")).as("score"))
    // Docs whose every feature misses the model still get a row
    // (score 0) — attached with a union + re-aggregate rather than a
    // left join (join size estimates on the scored lineage inflate
    // past the broadcast threshold and would force a sort-merge plan;
    // the union re-uses the same id-keyed shuffle).
    docs.select(col(id).as("__id"), lit(0L).as("score"))
      .unionByName(scored)
      .groupBy("__id").agg(sum("score").as("score"))
      .select(col("__id").as(id), col("score"))
      .withColumn("positive", col("score") > 0)
  }

  /** Deterministic batch-perceptron TRAINER over the same hashed
    * bag-of-words features [[linearClassifierScore]] serves — closes
    * the fastText-style quality-filter loop (train offline → ship the
    * integer weight table → score at ingest) under one arithmetic
    * discipline. Batch perceptron, not SGD/logistic: the update is a
    * pure integer SUM over the misclassified set (w' = w +
    * Σ_miscls y·count), so training is order-independent, exactly
    * engine-portable, and needs no learning-rate or float semantics —
    * the same properties that make the c9/t11 integer scoring
    * oracle-checkable make the whole training loop oracle-checkable.
    *
    * `label` must evaluate to +1 / -1 (LONG). Iteration 1 starts from
    * w = 0, so every doc scores 0 and (y·s ≤ 0) marks all docs
    * misclassified — the first update is the class-difference count
    * vector, the classic perceptron bootstrap.
    *
    * Scale shape: the feature table is built once (one scan, one
    * (doc, feature)-keyed agg) and localCheckpointed; each iteration
    * is one broadcast join against the ≤`buckets`-row weight table,
    * one doc-keyed agg (scores), and one feature-keyed agg (delta)
    * whose result — bounded by `buckets`, like a k-means centroid
    * collect — is the only thing that ever reaches the driver.
    * Iterations are a fixed parameter; nothing grows with the corpus.
    * Docs with no feature rows (null/unmatched text) score 0 and stay
    * misclassified but contribute no delta, so ignoring them is
    * exact. */
  def perceptronTrain(docs: DataFrame, id: String, text: String,
                      label: Column, iters: Int = 3,
                      buckets: Int = 1024): DataFrame = {
    require(iters >= 1, s"perceptronTrain: iters >= 1: $iters")
    require(buckets >= 2, s"perceptronTrain: buckets >= 2: $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = docs
      .select(col(id).as("__id"), label.cast("long").as("__y"),
        explode(Scalars.tokens(col(text))).as("tok"))
      .select(col("__id"), col("__y"),
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).as("feature"))
      .groupBy("__id", "__y", "feature").agg(count(lit(1)).as("c"))
      .truncateLineage()
    val w = Array.fill(buckets)(0L)
    for (_ <- 1 to iters) {
      val wDf = w.toSeq.zipWithIndex
        .map { case (wt, f) => (f.toLong, wt) }.toDF("feature", "w")
      val miscls = feats.join(broadcast(wDf), Seq("feature"))
        .groupBy("__id", "__y").agg(sum(col("c") * col("w")).as("__s"))
        .filter(col("__y") * col("__s") <= 0)
        .select(col("__id"))
      feats.join(miscls, Seq("__id"))
        .groupBy("feature").agg(sum(col("__y") * col("c")).as("dw"))
        .collect()
        .foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
    }
    w.toSeq.zipWithIndex.map { case (wt, f) => (f.toLong, wt) }
      .toDF("feature", "w")
  }

  /** Deterministic BPE tokenizer training (Sennrich et al. 2016) —
    * the tokenizer-building half of a training-data pipeline, in the
    * PRODUCTION shape: ONE corpus-scale Spark pass aggregates the
    * floored word-count vocabulary, the vocabulary is collected
    * (bounded by the `minCount` floor — the centroid-collect
    * discipline: the merge loop's working set is the model, not the
    * corpus), and the whole merge loop runs driver-local with
    * incrementally-maintained pair counts. A 30-50 K-merge production
    * vocabulary trains in seconds; the previous shape ran each round
    * as a full distributed job over the tiny vocabulary table
    * (~1 s/round of pure scheduling — ~10 h of no-op jobs at real
    * vocabulary sizes).
    *
    * Semantics are BIT-IDENTICAL to the distributed round loop (kept
    * as [[bpeTrainRounds]]; BpeTwinSpec pins the equivalence): each
    * word starts as its code-point sequence plus a final `</w>`
    * end-of-word symbol; per round the arg-max pair under the total
    * (count desc, left, right) order — strings compared as UTF-8
    * BYTES, Spark/DuckDB's collation, never UTF-16 code units — then
    * the greedy left-to-right non-overlapping rewrite of every word
    * containing the pair. rand()-free, tie-breaks total, every float
    * absent: the train replays bit-identically in DuckDB (the t13
    * oracle unrolls the rounds).
    *
    * Output: the merge table (rank, left, right, merged, pair_count)
    * — the artifact [[TokenizerStore]] persists and serves from. */
  def bpeTrain(docs: DataFrame, id: String, text: String,
               merges: Int, minCount: Long = 1L): DataFrame =
    bpeTrainFull(docs, id, text, merges, minCount)._1

  /** Production merge-count ceiling — far above any real vocabulary
    * (GPT-2: 50 K), it exists to catch a nonsense argument, not to
    * bound the algorithm. */
  val BpeMaxMerges = 200000
  /** Ceiling on the collected vocabulary (distinct floored words). At
    * ~100 bytes/word this is ~400 MB of driver heap — the same
    * driver-bounded-model argument as the k-means centroid collect.
    * A crawl corpus whose floored vocabulary exceeds it needs a higher
    * `minCount`, which is the production answer anyway (the noise tail
    * below the floor contributes almost nothing to merge statistics). */
  val BpeMaxVocab = 4000000

  /** [[bpeTrain]] plus the trained word SEGMENTATION (w, c, s — each
    * vocabulary word's final symbol sequence): what [[bpeTokenCounts]]
    * serves from. */
  def bpeTrainFull(docs: DataFrame, id: String, text: String,
                   merges: Int, minCount: Long = 1L)
      : (DataFrame, DataFrame) = {
    require(merges >= 1 && merges <= BpeMaxMerges,
      s"bpeTrain: merges must be in [1, $BpeMaxMerges], got $merges")
    val spark = docs.sparkSession
    import spark.implicits._
    // `minCount` is the production min-frequency floor (every real
    // tokenizer trainer has one): on a crawl where rare garbage tokens
    // dominate the DISTINCT-word count, the floor is what keeps the
    // collected vocabulary bounded by the true vocabulary rather than
    // the noise tail. Merge STATISTICS change only by the excluded
    // tail's counts — the standard trade.
    val vocab = docs
      .select(explode(Scalars.tokens(col(text))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .as[(String, Long)].collect()
    require(vocab.length <= BpeMaxVocab,
      s"bpeTrain: floored vocabulary (${vocab.length} words at " +
        s"minCount=$minCount) exceeds the $BpeMaxVocab driver bound — " +
        "raise minCount (the production fix: the sub-floor tail is " +
        "noise that barely moves merge statistics)")
    val (mergeRows, wordRows) = bpeMergeLoopLocal(vocab, merges)
    (mergeRows.toSeq.toDF("rank", "left", "right", "merged", "pair_count"),
      wordRows.toSeq.toDF("w", "c", "s"))
  }

  /** UTF-8 byte comparison — Spark's UTF8String / DuckDB's default
    * collation. Java String.compareTo orders by UTF-16 code units,
    * which diverges for supplementary-plane characters; using it here
    * would flip arg-max tie-breaks against the distributed twin and
    * the oracle. */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** A word's start symbols: code points (matching Spark
    * `split(w, '')` / DuckDB `string_split(w, '')` on the strings both
    * engines accept) plus the end-of-word marker. */
  private def bpeSymbols(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out += "</w>"
    out.toArray
  }

  /** The driver-local merge loop over the collected vocabulary:
    * incrementally-maintained weighted pair counts (only words
    * containing the merged pair are rewritten — the fastBPE shape), an
    * ordered set for the arg-max, the same greedy fold as the
    * distributed rewrite. Work per round ∝ affected words' lengths,
    * not vocabulary size. */
  private def bpeMergeLoopLocal(vocab: Array[(String, Long)], merges: Int)
      : (Seq[(Int, String, String, String, Long)],
         Seq[(String, Long, Seq[String])]) = {
    import scala.collection.mutable
    val syms = vocab.map { case (w, _) => bpeSymbols(w) }
    val counts = vocab.map(_._2)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    // (count desc, left, right asc in UTF-8 byte order) — the total
    // arg-max order of the distributed ORDER BY pc DESC, l, r.
    implicit val ord: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String),
                    y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1)
          if (c != 0) return c
          val cl = utf8Compare(x._2, y._2)
          if (cl != 0) cl else utf8Compare(x._3, y._3)
        }
      }
    val ordered = mutable.TreeSet.empty[(Long, String, String)]
    def bump(p: (String, String), delta: Long): Unit = {
      val old = pairCounts.getOrElse(p, 0L)
      if (old != 0L) ordered.remove((old, p._1, p._2))
      val now = old + delta
      if (now > 0L) {
        pairCounts(p) = now
        ordered.add((now, p._1, p._2))
      } else {
        pairCounts.remove(p)
        require(now == 0L, s"bpeTrain: negative pair count for $p")
      }
    }
    def pairsOf(s: Array[String]): Iterator[(String, String)] =
      if (s.length < 2) Iterator.empty
      else (0 until s.length - 1).iterator.map(i => (s(i), s(i + 1)))
    syms.indices.foreach { i =>
      pairsOf(syms(i)).foreach { p =>
        bump(p, counts(i))
        pairWords.getOrElseUpdate(p, mutable.Set.empty) += i
      }
    }
    // The greedy left-to-right non-overlapping fold — the exact
    // semantics of the distributed aggregate() rewrite (after a merge
    // the new symbol is the fold's last element, so "aaa" under (a,a)
    // becomes [aa, a], never the overlapping middle).
    def foldMerge(s: Array[String], l: String, r: String,
                  lr: String): Array[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      s.foreach { x =>
        if (out.nonEmpty && out.last == l && x == r)
          out(out.length - 1) = lr
        else out += x
      }
      out.toArray
    }
    val out = mutable.Buffer.empty[(Int, String, String, String, Long)]
    var k = 1
    while (k <= merges && ordered.nonEmpty) {
      val (pc, l, r) = ordered.head
      val lr = l + r
      out += ((k, l, r, lr, pc))
      val affected = pairWords.getOrElse((l, r), mutable.Set.empty).toArray
      affected.foreach { i =>
        val oldS = syms(i)
        val newS = foldMerge(oldS, l, r, lr)
        val c = counts(i)
        pairsOf(oldS).foreach(bump(_, -c))
        pairsOf(newS).foreach(bump(_, c))
        pairsOf(oldS).toSet.foreach { p: (String, String) =>
          pairWords.get(p).foreach(_ -= i)
        }
        pairsOf(newS).toSet.foreach { p: (String, String) =>
          pairWords.getOrElseUpdate(p, mutable.Set.empty) += i
        }
        syms(i) = newS
      }
      k += 1
    }
    (out.toSeq,
      vocab.indices.map(i => (vocab(i)._1, counts(i), syms(i).toSeq)))
  }

  /** The previous distributed round loop, retained as the spec twin
    * that pins [[bpeTrainFull]]'s bit-identity claim (BpeTwinSpec) —
    * NOT a production path: each round is a full Spark job over the
    * tiny vocabulary table, so scheduling overhead dominates
    * (~1 s/round for milliseconds of work). Capped at 64 rounds for
    * exactly that reason. */
  private[graft] def bpeTrainRounds(docs: DataFrame, id: String,
                                    text: String, merges: Int,
                                    minCount: Long = 1L)
      : (DataFrame, DataFrame) = {
    require(merges >= 1 && merges <= 64,
      s"bpeTrainRounds: merges must be in [1, 64], got $merges")
    val spark = docs.sparkSession
    import spark.implicits._
    var words = docs
      .select(explode(Scalars.tokens(col(text))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select(col("w"), col("c"),
        concat(split(col("w"), ""), array(lit("</w>"))).as("s"))
      .truncateLineage()
    val out = scala.collection.mutable.Buffer.empty[
      (Int, String, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= merges && !exhausted) {
      val pairs = words.filter(size(col("s")) >= 2)
        .select(col("c"),
          explode(transform(sequence(lit(0), size(col("s")) - 2),
            i => struct(element_at(col("s"), i + 1).as("l"),
              element_at(col("s"), i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("c").as("pc"))
      val best = pairs.orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val l = best(0).getString(0)
        val r = best(0).getString(1)
        out += ((k, l, r, l + r, best(0).getLong(2)))
        words = words.withColumn("s", aggregate(col("s"),
            array().cast("array<string>"),
            (acc, x) => when(size(acc) > 0 &&
                element_at(acc, -1) === lit(l) && x === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(lit(l + r))))
              .otherwise(concat(acc, array(x)))))
          .truncateLineage()
        k += 1
      }
    }
    (out.toSeq.toDF("rank", "left", "right", "merged", "pair_count"),
      words)
  }

  /** Per-document token counts under the TRAINED BPE vocabulary — the
    * number sequence packing ([[Corpus.packSequences]]/[[Corpus
    * .packBinsFFD]]) budgets against. Serving is one broadcast join of
    * the corpus' word stream against the word→segment-length table
    * (bounded by vocabulary); a word under the training floor falls
    * back to its character segmentation (chars + the `</w>` marker) —
    * exactly what an untrained word costs at tokenize time. Every doc
    * gets a row (empty docs count 0). */
  def bpeTokenCounts(docs: DataFrame, id: String, text: String,
                     merges: Int, minCount: Long = 1L): DataFrame =
    bpeTokenCountsWith(docs, id, text,
      bpeTrainFull(docs, id, text, merges, minCount)._2)

  /** The SERVE half alone: per-doc token counts against an
    * already-trained segmentation table (w, c, s) — what
    * [[TokenizerStore.tokenCounts]] runs nightly against the persisted
    * artifact, with training paid once. One broadcast join of the word
    * stream against the word→segment-length table (bounded by
    * vocabulary); a word outside the vocabulary falls back to its
    * character segmentation (code points + the `</w>` marker). */
  def bpeTokenCountsWith(docs: DataFrame, id: String, text: String,
                         words: DataFrame): DataFrame = {
    val model = bpeServeModel(words)
    graft.plans.BpeEncodeExpr.withBound(docs.sparkSession, model) {
      (_, seglen) =>
        val counts = docs
          .select(col(id).as("__id"),
            explode(Scalars.tokens(col(text))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("__id").agg(
            sum(seglen(col("w")).cast("long")).as("n_bpe_tokens"))
        docs.select(col(id).as("__id"), lit(0L).as("n_bpe_tokens"))
          .unionByName(counts)
          .groupBy("__id").agg(sum("n_bpe_tokens").as("n_bpe_tokens"))
          .withColumnRenamed("__id", id)
    }
  }

  /** The retained JOIN-BASED token-count serve — the pre-r20 shape
    * (per-word broadcast join + coalesce fallback), kept as the
    * parity twin BpeNativeSpec pins [[bpeTokenCountsWith]] against. */
  private[graft] def bpeTokenCountsJoin(docs: DataFrame, id: String,
                                        text: String,
                                        words: DataFrame): DataFrame = {
    val lens = words.select(col("w"), size(col("s")).cast("long").as("n"))
    val counts = docs
      .select(col(id).as("__id"), explode(Scalars.tokens(col(text))).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(lens), Seq("w"), "left")
      .groupBy("__id").agg(
        sum(coalesce(col("n"), length(col("w")).cast("long") + 1))
          .as("n_bpe_tokens"))
    docs.select(col(id).as("__id"), lit(0L).as("n_bpe_tokens"))
      .unionByName(counts)
      .groupBy("__id").agg(sum("n_bpe_tokens").as("n_bpe_tokens"))
      .withColumnRenamed("__id", id)
  }

  /** Collect the vocabulary-bounded segmentation table and broadcast
    * it as the native serve model — the same driver-bounded-model
    * discipline as [[bpeTrainFull]]'s vocabulary collect (and the
    * manual-broadcast pattern of the optimization guide §3.2); the
    * [[BpeMaxVocab]] ceiling bounds the driver heap exactly as there.
    * One Broadcast ships the table once per executor, replacing the
    * BroadcastExchange the join-based serve paid per query. */
  private def bpeServeModel(words: DataFrame)
      : org.apache.spark.broadcast.Broadcast[graft.plans.BpeTokenTable] = {
    val rows = words.select(col("w"), col("s")).collect()
    require(rows.length <= BpeMaxVocab,
      s"bpe serve: segmentation table (${rows.length} words) exceeds " +
        s"the $BpeMaxVocab driver bound — raise the training minCount")
    val ws = new Array[String](rows.length)
    val segs = new Array[Array[String]](rows.length)
    var i = 0
    while (i < rows.length) {
      ws(i) = rows(i).getString(0)
      val s = rows(i).getSeq[String](1)
      segs(i) = if (s == null) null else s.toArray
      i += 1
    }
    words.sparkSession.sparkContext.broadcast(
      new graft.plans.BpeTokenTable(ws, segs))
  }

  /** The per-symbol TOKEN-ID stream under a trained segmentation —
    * the actual model input t14's budgets meter: every word position
    * of every document explodes into its subword symbols with a dense
    * integer id per symbol. Ids are the 1-based ranks of the DISTINCT
    * segment symbols in binary (UTF-8-byte) order — a deterministic
    * pure function of the artifact alone, so one vocabulary always
    * assigns one id table, across engines, runs, and appends of new
    * corpora. Words outside the vocabulary fall back to their
    * per-code-point symbols + the `</w>` marker (the same fallback
    * [[bpeTokenCountsWith]] counts); a fallback character absent from
    * the trained symbol set gets id 0 (UNK).
    *
    * Scale shape: the id table is bounded by the vocabulary (the
    * merges-table class of artifact — its global rank window sorts a
    * model-sized table, never corpus rows), and serving is two
    * broadcast joins on the exploded word/symbol stream — scan-local,
    * no corpus shuffle. */
  def bpeTokenIdsWith(docs: DataFrame, id: String, text: String,
                      words: DataFrame,
                      withIndex: Boolean = false,
                      carry: Seq[String] = Nil): DataFrame = {
    val model = bpeServeModel(words)
    graft.plans.BpeEncodeExpr.withBound(docs.sparkSession, model) {
      (enc, seglen) =>
        val toks = filter(Scalars.tokens(col(text)), w => length(w) > 0)
        val dw = docs.select(col(id) +: carry.map(col) :+
          posexplode(toks).as(Seq("wpos", "w")): _*)
        // `withIndex` adds tidx, the doc-level running token index —
        // the batch-layout key (pipe25), computed as a WORD-level
        // prefix sum plus the in-word offset (one shuffle/sort of the
        // word stream, ~4-5× fewer rows than the token stream). The
        // window's count input is one bpe_seglen hash probe — count
        // and symbols now come from ONE model table, so they cannot
        // disagree (the two-joins-must-agree hazard of the join-based
        // path is structurally gone).
        val indexed =
          if (!withIndex) dw
          else {
            val wWin = org.apache.spark.sql.expressions.Window
              .partitionBy(col(id)).orderBy("wpos")
            val nsyms = seglen(col("w")).cast("long")
            dw.withColumn("__wstart", sum(nsyms).over(wWin) - nsyms)
          }
        // ONE compiled lookup per word emits the whole (sym, token_id)
        // segmentation array — the explode survives (the output IS
        // per-symbol rows) but the two per-symbol broadcast joins and
        // the Catalyst char-split OOV fallback are gone.
        val syms = indexed
          .select(col(id) +: carry.map(col) ++: (col("wpos") +:
            (if (withIndex) Seq(col("__wstart")) else Nil)) :+
            posexplode(enc(col("w"))).as(Seq("spos", "__tok")): _*)
        val base = Seq(col(id)) ++ carry.map(col) ++ Seq(col("wpos"),
          col("spos"), col("__tok.sym").as("sym"),
          col("__tok.token_id").as("token_id"))
        if (withIndex)
          syms.select(base :+ (col("__wstart") + col("spos")).as("tidx"): _*)
        else
          syms.select(base: _*)
    }
  }

  /** The retained JOIN-BASED encode — the pre-r20 serve shape (two
    * per-symbol broadcast joins + the Catalyst char-split fallback),
    * kept as the parity twin BpeNativeSpec pins [[bpeTokenIdsWith]]
    * against, OOV words and supplementary-plane characters included. */
  private[graft] def bpeTokenIdsJoin(docs: DataFrame, id: String,
                                     text: String, words: DataFrame,
                                     withIndex: Boolean = false,
                                     carry: Seq[String] = Nil): DataFrame = {
    val vocab = words.select(explode(col("s")).as("sym")).distinct()
      .withColumn("token_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("sym")).cast("long"))
    val toks = filter(Scalars.tokens(col(text)), w => length(w) > 0)
    // `carry` columns of docs ride through the explosion unchanged —
    // the pipe25 trick: attach the per-doc pack slot BEFORE the token
    // stream exists, so the layout join costs one doc-level hash join
    // instead of a token-stream exchange (measured 65 -> 42 s on the
    // x64 batch entry).
    val dw = docs.select(col(id) +: carry.map(col) :+
      posexplode(toks).as(Seq("wpos", "w")): _*)
    // OOV fallback: code points + '</w>' (what the trainer's floor
    // leaves untrained words segmented as).
    val charSyms = concat(
      transform(sequence(lit(1), length(col("w"))),
        i => substring(col("w"), i, lit(1))),
      array(lit("</w>")))
    // `withIndex` adds tidx, the doc-level running token index — the
    // batch-layout key (pipe25). Computed as a WORD-level prefix sum
    // (one shuffle/sort of the word stream, ~4-5× fewer rows than the
    // token stream) plus the in-word offset; identical to
    // row_number() - 1 over (wpos, spos) at a fraction of the
    // exchange volume (measured 261 → 80 s on the ×64 batch entry).
    // The window's exchange carries only (id, carry, wpos, w) plus an
    // int symbol COUNT — never the symbol arrays: the count is
    // size(s) for trained words and codepoints+1 for the OOV
    // char-fallback (== size(charSyms) by construction), and the
    // arrays are re-attached AFTER the window by the same broadcast
    // join, map-side, no second shuffle.
    val segJoin = broadcast(words.select(col("w"), col("s")))
    val indexed =
      if (!withIndex)
        dw.join(segJoin, Seq("w"), "left")
          .withColumn("__syms", coalesce(col("s"), charSyms))
      else {
        val wWin = org.apache.spark.sql.expressions.Window
          .partitionBy(col(id)).orderBy("wpos")
        val nsyms = coalesce(col("__segn"), length(col("w")) + 1)
          .cast("long")
        dw.join(broadcast(words.select(col("w"),
              size(col("s")).as("__segn"))), Seq("w"), "left")
          .withColumn("__wstart", sum(nsyms).over(wWin) - nsyms)
          .drop("__segn")
          .join(segJoin, Seq("w"), "left")
          .withColumn("__syms", coalesce(col("s"), charSyms))
      }
    val syms = indexed
      .select(col(id) +: carry.map(col) ++: (col("wpos") +:
        (if (withIndex) Seq(col("__wstart")) else Nil)) :+
        posexplode(col("__syms")).as(Seq("spos", "sym")): _*)
    val out = syms.join(broadcast(vocab), Seq("sym"), "left")
    val base = Seq(col(id)) ++ carry.map(col) ++ Seq(col("wpos"),
      col("spos"), col("sym"),
      coalesce(col("token_id"), lit(0L)).as("token_id"))
    if (withIndex)
      out.select(base :+ (col("__wstart") + col("spos")).as("tidx"): _*)
    else
      out.select(base: _*)
  }
}
