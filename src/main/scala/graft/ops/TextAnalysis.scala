package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.exact.scaled
import graft.functions.text.wordsOf

/** Document-level text analysis for training-data pipelines: token
  * statistics, quality scoring, language identification, fingerprinting.
  * Everything is a narrow, codegen'd projection — at 100 TB these run at
  * scan speed with zero shuffle.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** Flesch-style readability in integer MILLI-points, the standard
    * "educational level" quality signal next to [[qualityMetrics]]'
    * surface ratios (curation pipelines bucket corpora by reading grade —
    * children's text, encyclopedic prose, and OCR noise separate cleanly
    * on this axis even with the crude syllable heuristic).
    *
    * Heuristics are deliberately engine-portable: a word is a maximal
    * `[a-z0-9]+` run of the lowercased text, a sentence a maximal `[.!?]+`
    * run, a syllable a maximal `[aeiouy]+` vowel run — three
    * `regexp_count`s, no per-word loop, so the whole thing is one
    * codegen'd scan-stage projection and the DuckDB oracle replays it
    * with `len(regexp_extract_all(...))`. Scores are the classic formulas
    * ×1000 with integer division (operands all positive — truncation and
    * floor agree):
    *   flesch_milli = 206835 − (1015·words) div sentences
    *                         − (84600·syllables) div words
    *   fk_grade_milli = (390·words) div sentences
    *                  + (11800·syllables) div words − 15590
    * Zero-word/zero-sentence texts guard the divisors at 1 (counts stay
    * raw). Returns a struct (n_words, n_sentences, n_syllables,
    * flesch_milli, fk_grade_milli), all longs.
    */
  def readability(text: Column): Column = {
    val lowered = lower(text)
    val words = regexp_count(lowered, lit("[a-z0-9]+")).cast("long")
    val sentences = regexp_count(text, lit("[.!?]+")).cast("long")
    val syllables = regexp_count(lowered, lit("[aeiouy]+")).cast("long")
    val w = greatest(words, lit(1L))
    val s = greatest(sentences, lit(1L))
    struct(
      words.as("n_words"),
      sentences.as("n_sentences"),
      syllables.as("n_syllables"),
      (lit(206835L) - call_function("div", lit(1015L) * words, s) -
        call_function("div", lit(84600L) * syllables, w)).as("flesch_milli"),
      (call_function("div", lit(390L) * words, s) +
        call_function("div", lit(11800L) * syllables, w) - lit(15590L))
        .as("fk_grade_milli"))
  }

  /** Rule-based sentence segmentation: split on `.`/`!`/`?` terminator
    * runs, keeping each terminator with its sentence — the granularity
    * layer under doc-level ops (sentence-level decontamination, quote
    * detection, per-sentence quality screens all want rows, not blobs).
    * Deliberately lookbehind-free: the segments come from ONE
    * `regexp_extract_all`-style pattern (`[^.!?]+[.!?]*` — a maximal
    * non-terminator run plus its terminator run), which is RE2-class and
    * replays verbatim in the oracle; abbreviation handling ("Dr.") is a
    * lexicon problem this deliberately does not solve — the standard
    * trade for an engine-portable splitter. Segments are trimmed;
    * whitespace-only segments drop. Returns `array<string>`.
    */
  def sentences(text: Column): Column =
    filter(
      transform(regexp_extract_all(text, lit("[^.!?]+[.!?]*"), lit(0)), trim(_)),
      s => length(s) > 0)

  /** Lexical diversity per document, integer permille: type-token ratio
    * (distinct words / words) and hapax ratio (words occurring exactly
    * once / words) — the repetition-adjacent quality axis [[graft.ops.Curation]]'s
    * Gopher signals don't cover (template spam repeats WORDS with high
    * n-gram novelty; TTR catches it, and an anomalously HIGH TTR at
    * length flags word-salad generators). Lowercased whitespace tokens,
    * one scan-stage projection via array ops: `array_distinct` for types;
    * hapax counts sort the tokens once and keep positions differing from
    * BOTH neighbors (frequency-1 ⇔ isolated in sorted order) — O(n log n)
    * per doc, not the O(n²) per-type membership scan. No shuffle, no map
    * state. Returns a struct (n_tokens, n_types, ttr_permille,
    * hapax_permille), zeros for empty text.
    */
  def lexicalDiversity(text: Column): Column = {
    val toks = when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(wordsOf(text))
    val types = array_distinct(toks)
    val nTok = size(toks).cast("long")
    val nTyp = size(types).cast("long")
    val sorted = array_sort(toks)
    // hapax ⇔ isolated in sorted order: differs from BOTH neighbors.
    // Neighbors come as SHIFTED ARRAYS compared element-wise by zip_with,
    // whose lambdas touch only lambda variables — an earlier formulation
    // referenced `sorted` INSIDE the per-element lambda (try_element_at),
    // and loop-invariant subexpressions are NOT hoisted out of HOF
    // bodies: the array re-SORTED once per element, O(n² log n) per doc
    // (17 s of the sf0.1 bench for this one query). Boundary neighbors
    // are nulls; tokens are never null, so the negated null-safe compare
    // reads "differs or no neighbor".
    val prev = concat(array(lit(null).cast("string")),
      slice(sorted, lit(1), greatest(size(sorted) - 1, lit(0))))
    val nxt = concat(slice(sorted, lit(2), greatest(size(sorted) - 1, lit(0))),
      array(lit(null).cast("string")))
    val diffPrev = zip_with(sorted, prev, (x, p) => !(x <=> p))
    val diffNext = zip_with(sorted, nxt, (x, nx) => !(x <=> nx))
    val hapax = size(filter(zip_with(diffPrev, diffNext, _ && _), b => b))
      .cast("long")
    val safe = greatest(nTok, lit(1L))
    struct(
      nTok.as("n_tokens"),
      nTyp.as("n_types"),
      call_function("div", nTyp * 1000L, safe).as("ttr_permille"),
      call_function("div", hapax * 1000L, safe).as("hapax_permille"))
  }

  /** Code-vs-prose signals: the router feature set for splitting a scraped
    * corpus into code and natural-language lanes (code gets lexer-aware
    * dedup and license filtering, prose gets [[qualityMetrics]]/
    * [[readability]] — misrouted code poisons both). Counts, not a binary
    * verdict: downstream thresholds differ per corpus, and the raw counts
    * feed [[graft.ops.Classifier]] as features when a learned router is
    * wanted.
    *
    * All signals are engine-portable regexp counts ((?m)/(?s) inline
    * flags, non-greedy spans, no backrefs — RE2-class, so the DuckDB
    * oracle replays them verbatim) in ONE codegen'd scan projection:
    *   - n_lines: newline count + 1 (0 for empty text)
    *   - fenced_blocks: markdown ``` ... ``` spans (the explicit marker)
    *   - semi_brace_lines: lines ending in `;`/`{`/`}` (C-family statements)
    *   - indented_lines: lines starting with a tab or 4 spaces (code
    *     blocks by indentation, Python/markdown convention)
    *   - camel_idents: camelCase identifier occurrences (rare in prose)
    *   - semi_brace_permille / indent_permille: the line counts ×1000
    *     div n_lines (guarded at 1) — the two ratios curation rules
    *     threshold on directly.
    */
  def codeSignals(text: Column): Column = {
    val nLines = when(length(text) === 0, lit(0L))
      .otherwise(regexp_count(text, lit("\n")).cast("long") + 1L)
    val semiBrace = regexp_count(text, lit("(?m)^.*[;{}][ \t]*$")).cast("long")
    val indented = regexp_count(text, lit("(?m)^(?:\t|    )")).cast("long")
    val safeLines = greatest(nLines, lit(1L))
    struct(
      nLines.as("n_lines"),
      regexp_count(text, lit("(?s)```.*?```")).cast("long").as("fenced_blocks"),
      semiBrace.as("semi_brace_lines"),
      indented.as("indented_lines"),
      regexp_count(text, lit("[a-z][a-z0-9]*[A-Z]")).cast("long").as("camel_idents"),
      call_function("div", semiBrace * 1000L, safeLines).as("semi_brace_permille"),
      call_function("div", indented * 1000L, safeLines).as("indent_permille"))
  }

  /** BPE-ish subword token estimate: words + punctuation marks counted
    * separately (a cheap, deterministic proxy for tokenizer cost used to
    * budget training corpora).
    */
  def approxBpeTokenCount(text: Column): Column =
    (regexp_count(text, lit("[A-Za-z0-9]{1,4}")) +
      regexp_count(text, lit("[^A-Za-z0-9\\s]"))).cast("long")

  /** Markup removal for web-scraped corpora (the WET-extraction step of a
    * Common Crawl-style pipeline): drops HTML comments, whole
    * `<script>`/`<style>` elements (their text is code, not prose), every
    * remaining tag, decodes the ubiquitous named entities, and collapses
    * the whitespace the removals leave behind. Case is PRESERVED — this
    * extracts content, it does not build a dedup key (chain
    * [[normalizeText]] after it for that).
    *
    * Pure codegen'd regexp chain, engine-portable by construction: every
    * pattern is RE2-class ((?is) flags, non-greedy spans, no backrefs), so
    * the DuckDB oracle replays it verbatim. Entity decoding covers the
    * named set only (`&amp; &lt; &gt; &quot; &#39; &apos; &nbsp;`) with
    * `&amp;` decoded LAST (standard order — `&amp;lt;` means literal
    * "&lt;"); numeric references beyond 39 need a chr() the engines don't
    * share (Spark's wraps at 256) and stay verbatim. Zero shuffle — a
    * scan-stage projection.
    */
  def stripMarkup(text: Column): Column = {
    val noComment = regexp_replace(text, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val ent = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
    val decoded = regexp_replace(ent, "&amp;", "&")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Unicode script classes for [[scriptProfile]], alphabetical (the
    * deterministic dominant-script tie order). Ranges are disjoint BMP
    * blocks, so every character lands in at most one class; whatever no
    * class claims is `other`.
    */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "arabic" -> "[\\u0600-\\u06FF]",
    "cjk" -> "[\\u4E00-\\u9FFF]",
    "cyrillic" -> "[\\u0400-\\u04FF]",
    "digit" -> "[0-9]",
    "greek" -> "[\\u0370-\\u03FF]",
    "hangul" -> "[\\u1100-\\u11FF\\uAC00-\\uD7AF]",
    "kana" -> "[\\u3040-\\u30FF]",
    "latin" -> "[A-Za-z\\u00C0-\\u024F]")

  /** Per-document Unicode-script histogram: character counts per script
    * class, integer per-mille fractions of non-space characters, and the
    * dominant script (strict-majority argmax, alphabetical tie-break,
    * "other" when no class claims the plurality). The script-consistency
    * signal behind mixed-script spam filters and per-script routing —
    * and the cheap complement to [[langId]] (markers say WHICH language,
    * scripts say which ALPHABET, robustly for unseen languages).
    *
    * All counts are codegen'd `regexp_count` over disjoint BMP ranges —
    * zero shuffle, scan-speed; integer divisions replay exactly in the
    * DuckDB oracle (same literal character ranges, RE2 class syntax).
    */
  def scriptProfile(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val nonSpace = length(regexp_replace(col(textCol), "\\s", "")).cast("long")
    val counted = docs.select(
      col(idCol) +:
        ScriptClasses.map { case (name, cls) =>
          regexp_count(col(textCol), lit(cls)).cast("long").as(s"n_$name")
        } :+ nonSpace.as("n_chars"): _*)
    val known = ScriptClasses.map { case (name, _) => col(s"n_$name") }
      .reduce(_ + _)
    val withOther = counted.withColumn("n_other", col("n_chars") - known)
    val names = ScriptClasses.map(_._1) :+ "other"
    val safe = greatest(col("n_chars"), lit(1L))
    val withFracs = names.foldLeft(withOther) { (d, name) =>
      d.withColumn(s"pm_$name",
        call_function("div", col(s"n_$name") * 1000L, safe).cast("int"))
    }
    // strict > keeps the alphabetically-first name on ties; "other" last
    val dominant = names.tail.foldLeft(
      struct(col(s"n_${names.head}").as("c"), lit(names.head).as("s"))) {
      (best, name) =>
        when(col(s"n_$name") > best.getField("c"),
          struct(col(s"n_$name").as("c"), lit(name).as("s"))).otherwise(best)
    }
    withFracs.withColumn("dominant_script",
      when(col("n_chars") === 0L, lit("other"))
        .otherwise(dominant.getField("s")))
  }

  /** Quality metrics struct: char length, word count, mean word length,
    * stopword ratio, punctuation ratio, uppercase ratio.
    */
  /** Canonical text normalization — the pre-key every dedup/fingerprint
    * stage should share so that cosmetic variants (tabs vs spaces, NBSP,
    * zero-width/unicode spaces, control chars, case) collapse to one
    * digest. Control chars and the Unicode space family become ASCII
    * space, runs collapse, ends trim, and (by default) case folds. Pure
    * codegen'd regexp chain — no UDF — and engine-portable: the DuckDB
    * oracle replays it with RE2 classes. Idempotent (law-tested).
    */
  def normalizeText(text: Column, lowercase: Boolean = true): Column = {
    val ctrl = "[\\x00-\\x08\\x0E-\\x1F\\x7F]"
    val uniWs = "[\\t\\n\\x0B\\f\\r\\u0085\\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]"
    val cleaned = trim(regexp_replace(
      regexp_replace(regexp_replace(text, ctrl, " "), uniWs, " "),
      " {2,}", " "))
    if (lowercase) lower(cleaned) else cleaned
  }

  def qualityMetrics(text: Column, stopwords: Seq[String]): Column = {
    val toks = wordsOf(text)
    // guarded count: "" splits to [""] — empty text has zero words
    val nTok = when(length(trim(text)) === 0, lit(0)).otherwise(size(toks))
    val safeTok = greatest(nTok, lit(1)) // division guard
    // one-pass marker count (the filter∘isin HOF is interpreted; see
    // TokenSetCountsExpr) — counting semantics identical
    val stopHits = graft.functions.text
      .tokenSetCounts(text, Seq(stopwords), Seq("s"), "")
      .getField("counts").getItem(0)
    struct(
      length(text).cast("long").as("n_chars"),
      nTok.cast("long").as("n_words"),
      // strip ALL whitespace (tabs/newlines too), matching the tokenizer
      (length(regexp_replace(text, "\\s", "")).cast("double") / safeTok).as("mean_word_len"),
      (stopHits.cast("double") / safeTok).as("stopword_ratio"),
      (regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("double") / greatest(length(text), lit(1))).as("punct_ratio"),
      (regexp_count(text, lit("[A-Z]")).cast("double") / greatest(length(text), lit(1))).as("upper_ratio")
    )
  }

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  /** Character/stopword n-gram language-ID heuristic: per-language score =
    * count of language-marker tokens; prediction = argmax (alphabetical
    * tie-break), "und" when nothing matches. Markers are the standard
    * high-frequency function words per language.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit"),
    "es" -> Seq("el", "la", "los", "las", "que", "es", "con"),
    "fr" -> Seq("le", "la", "les", "est", "que", "avec", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不")
  )

  private def langCounts(text: Column): Column = {
    val langs = LangMarkers.toSeq.sortBy(_._1)
    graft.functions.text.tokenSetCounts(text, langs.map(_._2), langs.map(_._1), "und")
  }

  def langScores(text: Column): Column = {
    val langs = LangMarkers.keys.toSeq.sorted
    // ONE expression tree shared by every field so whole-stage codegen's
    // subexpression elimination evaluates it once per row (separate trees
    // per field would defeat CSE); true single-eval regardless of codegen
    // comes from materializing the struct in its own select, as profile()
    // and the contract queries do
    val counts = langCounts(text).getField("counts")
    struct(langs.zipWithIndex.map { case (lang, i) =>
      counts.getItem(i).as(lang)
    }: _*)
  }

  /** Predicted language: argmax of marker counts, alphabetical tie-break,
    * "und" if all zero — computed inside the single-pass expression (the
    * previous when-chain formulation expanded to ~15 copies of the
    * interpreted filter tree, each re-tokenizing the document). NULL text
    * predicts "und", matching the old fold's otherwise-branch.
    */
  def langId(text: Column): Column =
    coalesce(langCounts(text).getField("pick"), lit("und"))

  /** Per-SEGMENT language mixture — the code-switching / boilerplate-
    * contamination detector that a whole-document [[langId]] structurally
    * misses: a document that is 80% English with a German navigation
    * footer argmaxes to "en" and sails through a per-doc language filter,
    * yet poisons a monolingual training mix. Chunk the token stream into
    * `chunkTokens`-token segments, predict each segment independently
    * (same marker model and alphabetical tie-break as [[langId]]), and
    * report the mixture: segment count, distinct predicted languages, the
    * majority language with its integer share, and the `switched` flag
    * (more than one language observed, "und" included — an undetermined
    * segment inside an English document is exactly the anomaly the audit
    * exists to surface).
    *
    * ROW-LOCAL: segmentation and per-segment prediction are array HOFs
    * over the one token split — zero shuffle, registered in
    * [[graft.streaming.RowLocal]], runs at scan speed on batch or stream.
    * Majority tie-break: highest count, then alphabetically SMALLEST code
    * (the [[langId]] convention). Empty/whitespace text: zero segments,
    * zero languages, NULL top_lang/top_share. Output: (idCol, n_tokens,
    * n_segments, n_langs, top_lang, top_n, top_share_permille, switched).
    */
  def langSegments(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 100): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    val codes = (LangMarkers.keys.toSeq :+ "und").sorted
    // coalesce FIRST: on NULL text the empty-check would be NULL, the
    // otherwise branch would run, and size(split(NULL)) = -1 would leak
    // negative token/segment counts into the mixture rollup
    val toks = split(trim(coalesce(col(textCol), lit(""))), "\\s+")
    val nTok = when(length(trim(coalesce(col(textCol), lit("")))) === 0, lit(0))
      .otherwise(size(toks)).cast("long")
    val k = chunkTokens.toLong
    val nSeg = call_function("div", nTok + (k - 1), lit(k))
    val segs = when(col("n_segments") === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0L), col("n_segments") - 1),
        i => langId(array_join(slice(col("__toks"), (i * k + 1).cast("int"),
          lit(chunkTokens)), " "))))
    // (count, rank, code) structs: rank descends with alphabetical order,
    // so array_max picks max count then the SMALLEST code on ties
    val counted = array(codes.zipWithIndex.map { case (c, i) =>
      struct(
        size(filter(col("__segs"), s => s === c)).cast("long").as("n"),
        lit(codes.length - i).as("r"), lit(c).as("code"))
    }: _*)
    docs
      .select(col(idCol), toks.as("__toks"), nTok.as("n_tokens"),
        nSeg.as("n_segments"))
      .withColumn("__segs", segs)
      .withColumn("__counts", counted)
      .select(col(idCol), col("n_tokens"), col("n_segments"),
        size(filter(col("__counts"), c => c.getField("n") > 0)).cast("long")
          .as("n_langs"),
        when(col("n_segments") > 0, array_max(col("__counts")).getField("code"))
          .as("top_lang"),
        when(col("n_segments") > 0, array_max(col("__counts")).getField("n"))
          .as("top_n"),
        scaled(array_max(col("__counts")).getField("n"), col("n_segments"), 1000L)
          .as("top_share_permille"),
        (size(filter(col("__counts"), c => c.getField("n") > 0)) > 1)
          .as("switched"))
  }

  /** Lexicon-based sentiment: (positive hits − negative hits) and their
    * normalized score over the token count. Deterministic, codegen'd,
    * replicable in SQL — the cheap corpus-curation signal (SURVEY §7.2).
    */
  val PositiveLexicon: Seq[String] =
    Seq("good", "great", "excellent", "fast", "love", "best", "happy", "win", "nice", "cool")
  val NegativeLexicon: Seq[String] =
    Seq("bad", "terrible", "slow", "hate", "worst", "sad", "fail", "poor", "wrong", "broken")

  def sentiment(text: Column): Column = {
    // single shared tree (see langScores on CSE)
    val tc = graft.functions.text.tokenSetCounts(
      text, Seq(PositiveLexicon, NegativeLexicon), Seq("pos", "neg"), "")
    val pos = tc.getField("counts").getItem(0)
    val neg = tc.getField("counts").getItem(1)
    struct(
      pos.as("pos_hits"),
      neg.as("neg_hits"),
      ((pos - neg).cast("double") /
        greatest(tc.getField("n_tokens"), lit(1L))).as("score"))
  }

  /** Deflate compression ratio — the cheap entropy proxy for corpus
    * quality (repetition/boilerplate compresses far below natural text,
    * random noise above it). JVM-deterministic, but zlib output is not a
    * cross-engine contract — gate with bounds, not exact values.
    */
  def compressionRatio(text: Column): Column =
    graft.functions.text.compressionRatio(text)

  /** Winnowing fingerprints (see graft.functions.text): distinct rolling-
    * hash minima, the standard near-dup/plagiarism document signature.
    */
  def fingerprint(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.functions.text.winnowFingerprint(text, k, w)

  /** Corpus vocabulary: token → count frequency table with a deterministic
    * dense ranking (count desc, token asc), thresholded at `minCount` and
    * truncated to the `topK` head. The canonical first step of tokenizer /
    * vocab construction over a training corpus.
    *
    * Scale shape: explode → partial-aggregated groupBy(token) — map-side
    * combine absorbs stopword-grade hot keys before the shuffle — then
    * top-K via orderBy+limit, which Spark executes as TakeOrderedAndProject
    * (per-partition heaps + driver merge of K rows, never a global sort).
    * The rank window runs on the K surviving rows only. `topK` is the
    * driver-memory bound; vocabularies are bounded by construction.
    */
  def vocabulary(docs: DataFrame, textCol: String, minCount: Long = 1L,
      topK: Int = 100000, n: Int = 1): DataFrame = {
    // n = 1: token vocabulary; n > 1: collocation / phrase table over
    // overlapping word n-grams (same shorter-than-n convention as
    // Dedup.shingles: a short doc contributes its whole text as one gram).
    // tokens materialize as an attribute BELOW the explode (generator-child
    // expressions get re-inlined into InferFiltersFromGenerate guards)
    val counts = docs
      .select(graft.functions.text.wordNgrams(col(textCol), n, distinct = false).as("__t"))
      .select(explode(col("__t")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token"))
      .limit(topK)
    counts.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token"))).cast("long"))
  }

  /** Collocation mining: adjacent-token pairs ranked by LIFT — observed
    * pair frequency over the frequency independence predicts,
    * lift = (c_xy/B) / ((c_x/U)·(c_y/U)) in integer micro-units
    * (1,000,000 = independent; phrase-like pairs score orders of
    * magnitude higher). The phrase-table builder next to [[vocabulary]]'s
    * raw n-gram counts: lift is what separates "new york" from "of the" —
    * both frequent, only one a collocation — feeding tokenizer vocab
    * seeding, boilerplate phrase lists, and query segmentation. Lift is
    * the monotone exp(PMI) stand-in: same ranking, no cross-engine
    * transcendental (ln is not correctly-rounded IEEE; an integer ratio
    * replays bit-for-bit).
    *
    * Exact arithmetic: counts cross-multiply in DECIMAL(38,0) —
    * lift_micro = (10⁶·c_xy·U²) div (B·c_x·c_y) — one integral divide at
    * the end. Exactness budget: numerator ≤ 10⁶·c_xy·U² needs c_xy·U² <
    * 10³² — bounded by U³, safe to U ≈ 4·10¹⁰ corpus tokens; mine larger
    * corpora on a sample (collocation statistics saturate long before
    * that).
    *
    * Scale shape: two scans of the text column (token+pair instance
    * totals fuse into one one-row broadcast aggregate; unigram and pair
    * counts partial-aggregate on their keys), `minCount` prunes the pair
    * table BEFORE the two vocabulary-sized count joins (AQE broadcasts
    * them at typical vocab sizes), and the global top-k is an
    * orderBy+limit (TakeOrdered — per-partition heaps, no full sort).
    * Tokenization = [[vocabulary]]'s rule (lowercase, split `\s+`).
    *
    * Output: (tok_a, tok_b, pair_cnt, cnt_a, cnt_b, lift_micro, rank),
    * rank by (lift desc, tok_a, tok_b) — deterministic under ties.
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5L,
      topK: Int = 1000): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be positive")
    val dec = "decimal(38,0)"
    val tk = wordsOf(col(textCol))
    val totals = docs.agg(
      sum(size(tk)).cast(dec).as("__U"),
      sum(greatest(size(tk) - lit(1), lit(0))).cast(dec).as("__B"))
    val uni = docs.select(explode(tk).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
    val pairs = docs.select(tk.as("tk"))
      .where(size(col("tk")) >= 2)
      .select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .select(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("pair_cnt"))
      .where(col("pair_cnt") >= minCount)
    val scored = pairs
      .join(uni.select(col("tok").as("tok_a"), col("__c").as("cnt_a")), "tok_a")
      .join(uni.select(col("tok").as("tok_b"), col("__c").as("cnt_b")), "tok_b")
      .crossJoin(broadcast(totals))
      .select(col("tok_a"), col("tok_b"), col("pair_cnt"), col("cnt_a"),
        col("cnt_b"),
        call_function("div",
          lit(1000000L).cast(dec) * col("pair_cnt") * col("__U") * col("__U"),
          col("__B") * col("cnt_a") * col("cnt_b")).as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
    scored.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("lift_micro").desc, col("tok_a"), col("tok_b")))
        .cast("long"))
  }

  /** Per-document keyword extraction — the integer-exact tf-idf variant.
    * For each document, its top-`k` terms by `score = tf × idf_permille`,
    * where `idf_permille = ((n_docs − df) × 1000) div n_docs`: an integer
    * "inverse prevalence" weight that sends corpus-wide terms to ~0 and
    * rare terms to ~1000 with none of the cross-engine float drift of
    * log-idf (the ns_keywords oracle replays every value bit-for-bit).
    * Ties break alphabetically, so the keyword set is deterministic.
    * `maxDfPermille` additionally drops terms present in more than that
    * fraction of documents (corpus-adaptive stopword removal) BEFORE the
    * ranking window.
    *
    * Scale: tf is one partial-aggregated exchange keyed by (doc, term);
    * df reduces that frame to a vocabulary-sized table joined back
    * (AQE-broadcast at typical vocabulary sizes); n_docs is a one-row
    * broadcast, never a driver action. The per-doc top-k is a rank
    * predicate Spark plans with WindowGroupLimit — per-partition heaps
    * ahead of the final rank, no global sort (PlanSpec-gated).
    */
  def keywords(docs: DataFrame, textCol: String, idCol: String, k: Int,
      minTermLen: Int = 3, maxDfPermille: Int = 1000): DataFrame = {
    val terms = docs.select(col(idCol),
        explode(wordsOf(col(textCol))).as("term"))
      .where(length(col("term")) >= minTermLen)
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfTable = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfTable, "term").crossJoin(broadcast(nDocs))
      .withColumn("idf_permille",
        call_function("div", (col("n_docs") - col("df")) * lit(1000L), col("n_docs")))
      .where(call_function("div", col("df") * lit(1000L), col("n_docs"))
        <= lit(maxDfPermille.toLong))
      .withColumn("score", col("tf") * col("idf_permille"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    scored
      .withColumn("kw_rank", row_number().over(w).cast("long"))
      .where(col("kw_rank") <= k)
      .select(col(idCol), col("kw_rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** Full document-profile projection over a corpus. */
  def profile(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(
      col(idCol),
      wsTokenCount(col(textCol)).as("n_tokens_ws"),
      approxBpeTokenCount(col(textCol)).as("n_tokens_bpe"),
      qualityMetrics(col(textCol), DefaultStopwords).as("quality"),
      langId(col(textCol)).as("lang_pred"),
      fingerprint(col(textCol)).as("fingerprints"))

  /** Blocklist term matching (the profanity/NSFW/spam-list filter tier):
    * per-doc total occurrences and distinct-term count over a term list,
    * via a single-pass Aho-Corasick scan
    * ([[graft.functions.text.termMatches]]) — one text traversal at ANY
    * list size where a contains() chain would re-scan per term.
    * SUBSTRING semantics (terms match inside words — encode boundaries
    * into the terms for word matching); `flagged` = total occurrences ≥
    * `minMatches`. Zero shuffle: a scan-stage projection like every
    * other per-doc signal; the automaton rides the closure as a frozen
    * model. Output: (idCol, n_matches, n_distinct_terms, flagged).
    */
  def termMatchStats(docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], minMatches: Int = 1,
      caseInsensitive: Boolean = true): DataFrame =
    docs.select(col(idCol),
        graft.functions.text.termMatches(col(textCol), terms, caseInsensitive)
          .as("__m"))
      .select(col(idCol),
        col("__m.n_matches").as("n_matches"),
        col("__m.n_distinct_terms").as("n_distinct_terms"))
      .withColumn("flagged", col("n_matches") >= minMatches)

  /** Drop documents whose blocklist occurrence count reaches `minMatches`,
    * keeping the input columns — the apply form of [[termMatchStats]].
    * Same single-pass scan-stage shape; nothing shuffles.
    */
  def filterTermMatches(docs: DataFrame, textCol: String,
      terms: Seq[String], minMatches: Int = 1,
      caseInsensitive: Boolean = true): DataFrame =
    docs.where(
      graft.functions.text.termMatches(col(textCol), terms, caseInsensitive)
        .getField("n_matches") < minMatches)

  /** Zipf-shape audit of the corpus vocabulary: term counts rolled into
    * FREQUENCY-DOUBLING buckets — bucket b holds terms whose count lies
    * in [2^b, 2^{b+1}) — with per-bucket term totals, token mass, and
    * the term-count decay ratio vs the previous bucket. Natural language
    * roughly halves the number of terms per doubling (Zipf exponent ~1 →
    * decay_permille ~500); a bucket histogram that DOESN'T decay that way
    * flags synthetic/templated text, log spam, or tokenizer damage —
    * a corpus-health gate run before tokenizer training. Buckets are
    * exact integers (the bit length of the count), so no transcendental
    * crosses the oracle: floor(log2 n) = length(bin(n)) − 1 in both
    * engines.
    *
    * Scale shape: one exploded token count (partial-aggregated on the
    * term key), then a rollup onto ≤ 64 buckets; the lag window runs on
    * the bucket frame (≤ 64 rows — metadata-sized by construction).
    * Output: (bucket, n_terms, n_tokens, token_share_permille,
    * decay_permille [NULL for the first bucket]).
    */
  def zipfProfile(docs: DataFrame, textCol: String, minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val counts = docs
      .select(graft.functions.text.wordNgrams(col(textCol), 1, distinct = false).as("__t"))
      .select(explode(col("__t")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
    val buckets = counts
      .groupBy((length(bin(col("cnt"))) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_terms"), sum(col("cnt")).as("n_tokens"))
    val w = Window.orderBy(col("bucket"))
    buckets
      .withColumn("__total", sum(col("n_tokens")).over(Window.partitionBy(lit(1))))
      .withColumn("__prev", lag(col("n_terms"), 1).over(w))
      .select(col("bucket"), col("n_terms"), col("n_tokens"),
        call_function("div", col("n_tokens") * 1000L, col("__total"))
          .as("token_share_permille"),
        when(col("__prev").isNotNull,
          call_function("div", col("n_terms") * 1000L, col("__prev")))
          .otherwise(lit(null).cast("long")).as("decay_permille"))
  }

  /** Vocabulary-coverage curve: for each candidate vocab size k, the
    * fraction of corpus TOKEN MASS covered by the k most frequent terms
    * (count desc, term asc — the [[vocabulary]] rank rule) — the
    * tokenizer-design question "how big must the vocab be before OOV/
    * byte-fallback is negligible" answered as data, complementing
    * [[zipfProfile]]'s shape audit and [[graft.ops.Bpe]] fertility.
    * coverage_permille = 1000·(tokens covered by top-k) div (all tokens);
    * the OOV rate at k is 1000 − coverage.
    *
    * Scale shape: ONE exploded term count (the [[vocabulary]] shuffle),
    * then the vocabulary rank as a TWO-LEVEL bucket-offset rank (the
    * [[graft.ops.Curation.epochShuffle]] /
    * [[graft.ops.Fuzzy.sortedNeighborhoodJoin]] pattern): range-bucket
    * the term frame on the rank key (cnt desc, token), per-bucket
    * `row_number` partitioned by bucket, and add broadcast bucket
    * offsets prefix-summed on the ≤ `buckets`-row count frame — a web
    * vocabulary (10⁸–10⁹ distinct terms) never sorts through one task.
    * Then one conditional aggregate producing |ks| cells and an unpivot
    * onto a |ks|-row output. Output: (k, covered_tokens, total_tokens,
    * coverage_permille), one row per requested k.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, ks: Seq[Int],
      buckets: Int = 64): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be non-empty, all >= 1")
    require(ks.distinct.size == ks.size, "ks must be distinct")
    require(buckets >= 1, "buckets must be >= 1")
    val counts = docs
      .select(graft.functions.text.wordNgrams(col(textCol), 1, distinct = false).as("__t"))
      .select(explode(col("__t")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    // range partitions follow the rank order, so global rank = offset of
    // the bucket (a broadcast ≤ `buckets`-row prefix sum) + rank within
    // it; boundaries come from range sampling but the computed rank is
    // the exact deterministic global rank either way
    val ranged = counts.repartitionByRange(buckets, col("cnt").desc, col("token"))
      .withColumn("__bk", spark_partition_id())
    val offsets = ranged.groupBy(col("__bk")).agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy(col("__bk")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__bk"), col("__off"))
    val ranked = ranged
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__bk")).orderBy(col("cnt").desc, col("token")))
        .cast("long"))
      .join(broadcast(offsets), "__bk")
      .withColumn("rk", col("__off") + col("__rk"))
    val aggCols = sum(col("cnt")).as("__total") +:
      ks.map(k => sum(when(col("rk") <= k, col("cnt"))).as(s"__c$k"))
    val cells = ranked.agg(aggCols.head, aggCols.tail: _*)
    val rows = explode(array(ks.map(k =>
      struct(lit(k.toLong).as("k"),
        coalesce(col(s"__c$k"), lit(0L)).as("covered_tokens"))): _*))
    cells.select(rows.as("r"), col("__total"))
      .select(col("r.k").as("k"), col("r.covered_tokens").as("covered_tokens"),
        coalesce(col("__total"), lit(0L)).as("total_tokens"))
      .withColumn("coverage_permille",
        scaled(col("covered_tokens"), col("total_tokens"), 1000L).otherwise(lit(0L)))
  }

  /** TextTiling-style semantic block segmentation (Hearst 1997, reduced
    * to its deterministic core): split each document into fixed
    * `blockTokens` blocks, score adjacent blocks by DISTINCT-token
    * Jaccard in integer permille, and open a new chunk wherever cohesion
    * drops below `minSimPermille` — topic-aware chunk boundaries for RAG
    * indexing where [[graft.ops.Curation.chunkByTokens]]' fixed windows
    * cut mid-topic. Output is per BLOCK (boundary decisions + chunk
    * assignment), not reassembled text — the block/chunk ids join back
    * onto whatever representation the pipeline carries.
    *
    * Scale shape: the block explode is corpus-token-sized (the same
    * volume any tokenization pass moves); the lag/cumsum windows are
    * PARTITIONED BY DOCUMENT (blocks-per-doc rows each, never global).
    * Integer-exact end-to-end: jaccard_permille = 1000·|A∩B| div |A∪B|
    * on distinct-token sets, so the gate replays in DuckDB. Empty or
    * whitespace documents emit no blocks (nothing to segment).
    * Output: (idCol, block_idx, n_tokens, sim_prev_permille [null for
    * block 0], new_chunk, chunk_id [1-based]).
    */
  def textTileBlocks(docs: DataFrame, textCol: String, idCol: String,
      blockTokens: Int = 50, minSimPermille: Long = 100L): DataFrame = {
    require(blockTokens >= 1, "blockTokens must be >= 1")
    require(minSimPermille >= 0 && minSimPermille <= 1000,
      "minSimPermille must be in [0, 1000]")
    val k = blockTokens.toLong
    val toks = split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+")
    val nTok = when(length(trim(coalesce(col(textCol), lit("")))) === 0, lit(0L))
      .otherwise(size(toks).cast("long"))
    val nb = call_function("div", nTok + (k - 1), lit(k))
    val blocks = docs
      .select(col(idCol), toks.as("__toks"), nb.as("__nb"))
      .where(col("__nb") > 0)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0L), col("__nb") - 1),
        i => slice(col("__toks"), (i * k + 1).cast("int"), lit(blockTokens)))))
      .select(col(idCol), col("pos").as("block_idx"),
        col("col").as("__block"), array_distinct(col("col")).as("__d"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("block_idx"))
    val run = Window.partitionBy(col(idCol)).orderBy(col("block_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    blocks
      .withColumn("__prev", lag(col("__d"), 1).over(byDoc))
      .withColumn("__inter",
        size(array_intersect(col("__prev"), col("__d"))).cast("long"))
      .withColumn("__union",
        size(col("__prev")).cast("long") + size(col("__d")) - col("__inter"))
      .withColumn("sim_prev_permille",
        when(col("__prev").isNull, lit(null).cast("long"))
          .when(col("__union") <= 0, lit(0L))
          .otherwise(call_function("div", col("__inter") * 1000L, col("__union"))))
      .withColumn("new_chunk",
        col("sim_prev_permille").isNull ||
          col("sim_prev_permille") < minSimPermille)
      .withColumn("chunk_id", sum(col("new_chunk").cast("long")).over(run))
      .select(col(idCol), col("block_idx").cast("long").as("block_idx"),
        size(col("__block")).cast("long").as("n_tokens"),
        col("sim_prev_permille"), col("new_chunk"), col("chunk_id"))
  }

  /** Instruction-template diversity mining for SFT/prompt corpora: the
    * opening-token template (lowercased first `nTokens` whitespace
    * tokens) of every prompt, rolled up to (template, count, corpus
    * share) — the Self-Instruct-style audit that catches a "diverse"
    * instruction set that is actually 40% "write a short story about".
    * Openings are where instruction datasets collapse (verb + object
    * frame); a flat template histogram is the cheap proxy for task
    * diversity, and the heavy head is the dedup/downsample worklist.
    * Documents shorter than `nTokens` template on their full text;
    * empty/whitespace/NULL docs group under the empty template (NULL
    * text coalesces to '' before tokenizing — the textTileBlocks/
    * langSegments convention; reported, not dropped — prompt hygiene
    * is part of the audit).
    *
    * One partial-aggregated groupBy over the scan-stage template
    * projection; the corpus total joins back as a one-row broadcast.
    * Output is TEMPLATE-sized: (template, n_docs, share_permille),
    * ordered by the caller (the gate ranks in SQL).
    */
  def instructionTemplates(docs: DataFrame, textCol: String,
      nTokens: Int = 3): DataFrame = {
    require(nTokens >= 1, "nTokens must be >= 1")
    val toks = split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+")
    val tpl = array_join(slice(toks, 1, nTokens), " ")
    val counts = docs.select(tpl.as("template"))
      .groupBy("template").agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("__total"))
    counts.crossJoin(broadcast(total))
      .select(col("template"), col("n_docs"),
        call_function("div", col("n_docs") * 1000L, col("__total"))
          .as("share_permille"))
  }
}
