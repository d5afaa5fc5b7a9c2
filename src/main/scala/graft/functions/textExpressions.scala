package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{array, lower, split, trim}
import org.apache.spark.sql.graft.{bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text-fingerprinting expressions used by the dedup / document-analysis
  * operators. Single-pass per row, no shuffle, constant memory.
  *
  * Table of contents — expression → consuming operator → gate. Every
  * expression exists to keep a hot path single-pass (interpreted HOF
  * chains re-evaluate their inputs; these parse/hash once per row);
  * PlanSpec's single-eval and shuffle-shape asserts plus the named
  * CORRECTNESS queries hold them to that.
  *
  * | Expression            | Operator (graft.ops)               | Gate |
  * |-----------------------|------------------------------------|------|
  * | SimHash64Expr         | Dedup.simhashCandidates            | ns_dedup_simhash |
  * | WinnowFingerprintExpr | Dedup.substringCandidates          | ns_substring_candidates |
  * | MinHashExpr           | Dedup.minhashCandidates (+incr.)   | ns_dedup_minhash, ns_incremental_neardup |
  * | CurationStatsExpr     | Curation.qualityFilter, TextAnalysis.profile | ns_quality_filter, ns_text_profile |
  * | WordNgramsExpr        | Dedup.jaccardVerify, TextAnalysis.vocabulary | ns_dedup_minhash, ns_ngram_vocab |
  * | TokenSetCountsExpr    | TextAnalysis.langId/sentiment      | ns_text_profile, ns_sentiment |
  * | WordChunksExpr        | Curation.chunk                     | ns_chunk |
  * | PackBinsExpr          | Curation.pack                      | ns_pack |
  * | HashedNgramCountsExpr | Lm.score, Curation.dsir, Classifier | ns_lm_score, ns_dsir, ns_quality_classifier |
  * | DsirDotExpr           | Curation.dsir, Classifier.score    | ns_dsir, ns_quality_classifier |
  * | BpeEncodeExpr         | Bpe.encode                         | ns_bpe |
  * | BloomMightContainExpr | Curation.decontaminate             | ns_decontaminate |
  * | CompressionRatioExpr  | TextAnalysis quality metrics       | ProfileSpec |
  * | CosineSimExpr         | Similarity.bruteForceTopK (+verify layers) | ns_embed_topk |
  * | HyperplaneKeysExpr    | Similarity.lshTopK, Dedup.embeddingCandidates | ns_ann_lsh, ns_dedup_embed |
  * | NearestCentroidsExpr  | Similarity.ivfTopK (multi-probe)   | ns_ann_ivf |
  * | NearestCentroidExpr   | Dedup.semanticDedup, Similarity.prototypes | ns_semdedup, ns_prototypes |
  * | PqEncodeExpr          | Similarity.trainPq/pqTopK          | ns_ann_pq |
  * | PqSubEncodeExpr       | Similarity PQ encode (subspace)    | ns_ann_pq |
  * | PqAdcExpr             | Similarity PQ ADC scoring          | ns_ann_pq |
  * | MediaPHashExpr        | Multimodal.pHash + media near-dup  | ns_media_phash |
  * | RepetitionStatsExpr   | Curation.repetitionStats/Filter    | ns_repetition |
  * | ScaleToInt8Expr       | Similarity.quantizeInt8            | ns_embed_int8 |
  * | ProjectVecExpr        | Embeddings.project (PCA apply)     | ns_embed_pca |
  * | TermMatchExpr         | TextAnalysis.termMatchStats        | ns_badwords |
  * | JaroWinklerExpr       | Fuzzy.jaroWinklerJoin              | ns_jaro_winkler, ns_jw_join |
  * | TokenLcsExpr          | EvalMetrics.rougeL                 | ns_rouge_l |
  * | CorrPermilleExpr      | Profile.correlationMatrix, Graph.degreeAssortativity | ns_correlation, ns_assortativity |
  */
object text {

  /** The word tokenization every text kernel shares with its SQL oracle,
    * `split(lower(trim(text)), '\\s+')`: trim strips ' ' only, then Spark's
    * own lowercase (UTF8String.toLowerCase, including its non-ASCII path).
    * Limit -1 keeps trailing empty tokens — split(col, "\\s+") and DuckDB's
    * string_split_regex both do; Java's default limit 0 would silently drop
    * them (split of "" is [""], so there is always at least one token).
    */
  private def words(input: Any): Array[String] = {
    val raw = input.asInstanceOf[UTF8String].toString
    var st = 0
    var en = raw.length
    while (st < en && raw.charAt(st) == ' ') st += 1
    while (en > st && raw.charAt(en - 1) == ' ') en -= 1
    UTF8String.fromString(raw.substring(st, en)).toLowerCase.toString.split("\\s+", -1)
  }

  /** [[words]] as a Column, for the operators that tokenize in Spark SQL
    * rather than inside a kernel — the same split, so the two cannot drift.
    */
  def wordsOf(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Tokens `t(from until until)` joined on ' ' — every word gram, line
    * and chunk the kernels key on. The join is injective for \s+-split
    * tokens: an ASCII space matches \s, so it is always a separator and
    * never appears inside a token (a U+0001 separator would not be: \s
    * does not match it, so ("ab","c") and ("a","bc") would share a key).
    * It is also the distributed forms' concat_ws(" ") gram identity.
    */
  private def spaceJoin(t: Array[String], from: Int, until: Int): String =
    if (until - from == 1) t(from)
    else {
      val sb = new java.lang.StringBuilder
      var k = from
      while (k < until) {
        if (k > from) sb.append(' ')
        sb.append(t(k))
        k += 1
      }
      sb.toString
    }

  /** A token-array value as strings: null is no tokens, a null element
    * is "".
    */
  private def tokensOf(raw: Any): Array[String] = raw match {
    case null => Array.empty[String]
    case a: ArrayData => Array.tabulate(a.numElements())(i =>
      if (a.isNullAt(i)) "" else a.getUTF8String(i).toString)
  }

  /** Occurrence count of each n-gram key `key(i)`, i in [0, len − n]. */
  private def gramCounts(len: Int, n: Int)(key: Int => String): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i + n <= len) {
      val k = key(i)
      val c = m.get(k)
      m.put(k, if (c == null) 1 else c + 1)
      i += 1
    }
    m
  }

  private def wordGramCounts(t: Array[String], n: Int): java.util.HashMap[String, Integer] =
    gramCounts(t.length, n)(i => spaceJoin(t, i, i + n))

  /** Clipped matches of the candidate n-grams `key(i)` against the
    * reference multiset `ref`: each candidate gram consumes one count by
    * decrement, which is Σ_g min(cand_g, ref_g) (Papineni's modified
    * precision). Consumes `ref`.
    */
  private def clippedMatches(ref: java.util.HashMap[String, Integer], len: Int, n: Int)(
      key: Int => String): Long = {
    var matches = 0L
    var i = 0
    while (i + n <= len) {
      val k = key(i)
      val c = ref.get(k)
      if (c != null && c > 0) { matches += 1L; ref.put(k, c - 1) }
      i += 1
    }
    matches
  }

  /** Fraction of gram characters in occurrences beyond each gram's first
    * (the Gopher duplicate-n-gram signal); 0 for no grams.
    */
  private def dupCharFrac(counts: java.util.HashMap[String, Integer]): Double = {
    var total = 0L
    var dup = 0L
    counts.forEach { (g, c) => total += c.toLong * g.length; dup += (c - 1L) * g.length }
    if (total == 0L) 0.0 else dup.toDouble / total
  }

  /** Plan-string stand-in for a model table riding a constructor (not a
    * Literal child): default TreeNode rendering would inline every number
    * into EVERY plan string — at production centroid counts a single
    * explain/AQE log line becomes a multi-GB driver allocation. Its
    * shape only.
    */
  private def payload(rows: Seq[Seq[_]], what: String): String =
    s"<${rows.length}x${rows.headOption.map(_.length).getOrElse(0)} $what>"

  /** Cross-engine portable hash family: MD5-derived base values + affine
    * permutations mod p = 2^31-1. It is the one token/shingle hash of the
    * fingerprint and feature-hashing expressions, so an independent SQL
    * engine (the DuckDB correctness oracle) can recompute signatures
    * EXACTLY: md5 agrees byte-for-byte across engines, the 31-bit
    * truncation is `('0x' || substr(md5(s), 1, 8))::UBIGINT & 2147483647`
    * in SQL, and the affine constants are interpolated into the oracle SQL
    * from these same definitions (see SparkEntry.oracleSql).
    */
  object PortableHash {
    val P: Long = 2147483647L // 2^31 - 1 (Mersenne prime)
    def a(j: Int): Long = ((j.toLong * 2654435761L + 40503L) % (P - 1)) + 1
    def b(j: Int): Long = (j.toLong * 97781L + 12345L) % P
    /** j-th affine permutation; a*h < 2^62 so the product never overflows. */
    def perm(j: Int, h: Long): Long = (a(j) * h + b(j)) % P
    private val md = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
    private def digest(s: UTF8String): Array[Byte] = {
      val d = md.get(); d.reset(); d.digest(s.getBytes)
    }
    /** First 31 bits of md5(s) — big-endian first 4 digest bytes, sign bit
      * cleared; equals the SQL form above.
      */
    def h31(s: UTF8String): Long = {
      val d = digest(s)
      (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) & 0x7fffffffL
    }
    /** First 64 bits of md5(s) as a signed long — the same bit pattern as
      * `('0x' || substr(md5(s), 1, 16))::UBIGINT`; per-bit tests via
      * unsigned shifts agree across the signed/unsigned views.
      */
    def h64(s: UTF8String): Long = {
      val d = digest(s)
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      h
    }
  }

  /** 64-bit SimHash over a token array: token hashes vote per bit,
    * vote-sum sign sets the output bit (Charikar 2002 construction); the
    * token hash is [[PortableHash.h64]].
    */
  case class SimHash64Expr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) {
          val tok = arr.getUTF8String(i)
          val h = PortableHash.h64(tok)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) > 0) out |= (1L << b)
        b += 1
      }
      out
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD 2003):
    * the md5-31 hash of every character k-gram, then the minimum hash in
    * each window of `w` consecutive hashes; returns the distinct selected
    * hashes. Robust to small edits — the standard document-fingerprint for
    * plagiarism/near-dup detection.
    */
  case class WinnowFingerprintExpr(child: Expression, k: Int, w: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      if (s.length < k) return new GenericArrayData(Array.empty[Any])
      val nHashes = s.length - k + 1
      val hashes = new Array[Long](nHashes)
      // direct md5-31 of each k-gram (no rolling): reproducible in SQL as
      // the same hash of substr(text, i, k). Char-indexed substring ==
      // SQL's codepoint substr for BMP text (the test corpus is ASCII).
      var i = 0
      while (i < nHashes) {
        hashes(i) = PortableHash.h31(UTF8String.fromString(s.substring(i, i + k)))
        i += 1
      }
      // winnow: min of each window of w hashes (rightmost min on ties)
      val selected = scala.collection.mutable.LinkedHashSet.empty[Long]
      if (nHashes <= w) {
        var m = hashes(0); i = 1
        while (i < nHashes) { if (hashes(i) <= m) m = hashes(i); i += 1 }
        selected += m
      } else {
        i = 0
        while (i + w <= nHashes) {
          var m = hashes(i)
          var j = i + 1
          while (j < i + w) { if (hashes(j) <= m) m = hashes(j); j += 1 }
          selected += m
          i += 1
        }
      }
      new GenericArrayData(selected.toArray.map(x => x: Any))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** One-pass MinHash: word shingles → numHashes signature minima → banded
    * bucket hashes, all in a single eval. Replaces a nested-HOF formulation
    * that was O(bands × hashes × shingles) re-evaluated per projection
    * (Spark HOFs are interpreted, and projection collapse re-inlines them);
    * this expression is O(shingles × hashes) once per row.
    *
    * Output: struct(sig: array<long>, buckets: array<long>) where
    * buckets(b) identifies the LSH bucket of band b.
    */
  case class MinHashExpr(child: Expression, shingleLen: Int, numHashes: Int, bands: Int)
      extends UnaryExpression with CodegenFallback {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    private val rows = numHashes / bands
    override def dataType: DataType = StructType(Seq(
      StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("buckets", ArrayType(LongType, containsNull = false), nullable = false)))
    override def nullable: Boolean = false

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val raw = child.eval(input)
      val sig = new Array[Long](numHashes)
      java.util.Arrays.fill(sig, Long.MaxValue)
      if (raw != null) {
        val arr = raw.asInstanceOf[ArrayData]
        val n = arr.numElements()
        val nShingles = math.max(1, n - shingleLen + 1)
        val toks = tokensOf(arr)
        var i = 0
        while (i < nShingles) {
          // md5-31 of the space-joined shingle string (the exact string
          // SQL's array_to_string(slice, ' ') produces), then affine
          // permutations — SQL-recomputable.
          val shingle = spaceJoin(toks, i, math.min(i + shingleLen, n))
          val base = PortableHash.h31(UTF8String.fromString(shingle))
          var j = 0
          while (j < numHashes) {
            val h = PortableHash.perm(j, base)
            if (h < sig(j)) sig(j) = h
            j += 1
          }
          i += 1
        }
      }
      val buckets = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = b.toLong
        var r = 0
        while (r < rows) {
          h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(sig(b * rows + r), h)
          r += 1
        }
        buckets(b) = h
        b += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(
        new GenericArrayData(sig.map(x => x: Any)),
        new GenericArrayData(buckets.map(x => x: Any)))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** One-pass corpus-curation statistics (Gopher-style quality signals,
    * Rae et al. 2021 §A1.1): word count, mean word length, stopword hits,
    * alphabetic-word fraction, plus duplicate-line ratios over fixed-width
    * token lines. A single evaluation tokenizes once and computes every
    * signal — the HOF formulation would re-tokenize per referencing column
    * (projection collapse re-inlines interpreted HOFs; see MinHashExpr).
    *
    * Tokenization matches the SQL-oracle form exactly:
    * `string_split_regex(lower(trim(text)), '\s+')` — trim strips ' ' only
    * (Spark/DuckDB trim semantics, NOT java.lang.String#trim), lines are
    * groups of `lineLen` consecutive tokens joined by ' '.
    */
  case class CurationStatsExpr(child: Expression, lineLen: Int, stopwords: Seq[String])
      extends UnaryExpression with CodegenFallback {
    require(lineLen >= 1, "lineLen must be >= 1")
    @transient private lazy val stopSet: Set[String] = stopwords.toSet
    override def dataType: DataType = StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("mean_word_len", DoubleType, nullable = false),
      StructField("stop_hits", LongType, nullable = false),
      StructField("frac_alpha", DoubleType, nullable = false),
      StructField("n_lines", LongType, nullable = false),
      StructField("dup_line_frac", DoubleType, nullable = false),
      StructField("dup_char_frac", DoubleType, nullable = false),
      StructField("dup_2gram_frac", DoubleType, nullable = false),
      StructField("dup_3gram_frac", DoubleType, nullable = false)))
    override def nullSafeEval(input: Any): Any = {
      val toks = words(input)
      val nWords = toks.length
      var sumChars = 0L
      var stopHits = 0L
      var alphaWords = 0L
      var i = 0
      while (i < nWords) {
        val t = toks(i)
        sumChars += t.length
        if (stopSet.contains(t)) stopHits += 1
        var j = 0
        var hasAlpha = false
        while (j < t.length && !hasAlpha) {
          val c = t.charAt(j)
          if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) hasAlpha = true
          j += 1
        }
        if (hasAlpha) alphaWords += 1
        i += 1
      }
      val nLines = if (nWords == 0) 0 else (nWords + lineLen - 1) / lineLen
      val seen = new java.util.HashSet[String](nLines * 2)
      var dupLines = 0L
      var charsTotal = 0L
      var charsDup = 0L
      var li = 0
      while (li < nLines) {
        val from = li * lineLen
        val line = spaceJoin(toks, from, math.min(from + lineLen, nWords))
        charsTotal += line.length
        if (!seen.add(line)) { dupLines += 1; charsDup += line.length }
        li += 1
      }
      // Gopher repetition signals over sliding word n-grams (no short-doc
      // whole-text fallback here — repetition of nothing is 0, unlike the
      // shingle fallback used by the dedup/decontamination gram builders)
      def dupNgramCharFrac(n: Int): Double = dupCharFrac(wordGramCounts(toks, n))
      org.apache.spark.sql.catalyst.InternalRow(
        nWords.toLong,
        if (nWords == 0) 0.0 else sumChars.toDouble / nWords,
        stopHits,
        if (nWords == 0) 0.0 else alphaWords.toDouble / nWords,
        nLines.toLong,
        if (nLines == 0) 0.0 else dupLines.toDouble / nLines,
        if (charsTotal == 0L) 0.0 else charsDup.toDouble / charsTotal,
        dupNgramCharFrac(2),
        dupNgramCharFrac(3))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def curationStats(text: Column, lineLen: Int, stopwords: Seq[String]): Column =
    ExpressionUtils.column(CurationStatsExpr(ExpressionUtils.expression(text), lineLen, stopwords))

  /** Sliding word n-grams in one pass: tokenize once
    * (lower(trim ' ')/split \s+ — the SQL-oracle convention shared with
    * CurationStatsExpr), then build each gram with a single StringBuilder;
    * docs shorter than `n` tokens yield their whole token string as one
    * gram (the Dedup.shingles convention). `distinct` dedups preserving
    * first-occurrence order, like array_distinct.
    *
    * Replaces the declarative transform∘sequence∘slice∘concat_ws
    * formulation: Spark HOFs are interpreted, re-tokenize per nested
    * reference (4× split inside one CASE, no common-subexpression
    * elimination), and cost ~1.3 ms per 50-token doc — this expression is
    * ~2 orders cheaper and immune to the extract-generator /
    * infer-filters-from-generate re-inlining that multiplies HOF evals.
    */
  case class WordNgramsExpr(child: Expression, n: Int, distinct: Boolean)
      extends UnaryExpression with CodegenFallback {
    require(n >= 1, "n must be >= 1")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val toks = words(input)
      val grams: Seq[String] =
        if (toks.length < n) Seq(spaceJoin(toks, 0, toks.length))
        else Seq.tabulate(toks.length - n + 1)(i => spaceJoin(toks, i, i + n))
      val out =
        if (!distinct) grams
        else {
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          grams.foreach(seen += _)
          seen.toSeq
        }
      new GenericArrayData(out.map(g => UTF8String.fromString(g): Any).toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def wordNgrams(text: Column, n: Int, distinct: Boolean): Column =
    ExpressionUtils.column(WordNgramsExpr(ExpressionUtils.expression(text), n, distinct))

  /** Marker-token counts for a family of word sets in ONE tokenization
    * pass, plus the argmax label (alphabetical tie-break, `elseLabel` when
    * every count is zero). Backs langScores/langId/sentiment: the
    * declarative form — one filter∘isin HOF per set, and an argmax built
    * from repeated copies of those trees — is interpreted and re-tokenizes
    * per copy (langId expanded to ~15 tokenizations per row).
    *
    * Tokenization is the shared SQL-oracle convention (lower/trim-space/
    * split \s+ keep-empties), so counting semantics are byte-identical to
    * `list_filter(toks, x -> x IN (...))`.
    *
    * Output: struct(counts: array<long> — one per set, in input order;
    * pick: string — argmax over `labels` or `elseLabel` on all-zero).
    */
  case class TokenSetCountsExpr(child: Expression, sets: Seq[Seq[String]],
      labels: Seq[String], elseLabel: String)
      extends UnaryExpression with CodegenFallback {
    require(sets.nonEmpty && sets.length == labels.length, "one label per set")
    // word-set payload (marker lexicons can be large) stays out of plan
    // strings (the [[payload]] rationale)
    override def stringArgs: Iterator[Any] = Iterator(child,
      s"<${sets.length} sets, ${sets.map(_.length).sum} words>", labels, elseLabel)
    @transient private lazy val lookup: java.util.HashMap[String, Array[Int]] = {
      // token -> indices of the sets containing it (a token may appear in
      // several sets; each gets its count). Words are deduped per set so a
      // repeated literal can't double-count — IN-list semantics
      val m = new java.util.HashMap[String, Array[Int]]()
      sets.zipWithIndex.foreach { case (ws, i) =>
        ws.distinct.foreach { w =>
          val prev = m.get(w)
          m.put(w, if (prev == null) Array(i) else prev :+ i)
        }
      }
      m
    }
    // constant of the expression: labels in tie-break (alphabetical) order
    @transient private lazy val sortedLabelIdx: Array[(String, Int)] =
      labels.zipWithIndex.sortBy(_._1).toArray
    override def dataType: DataType = StructType(Seq(
      StructField("counts", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("pick", StringType, nullable = false),
      StructField("n_tokens", LongType, nullable = false)))
    override def nullSafeEval(input: Any): Any = {
      val toks = words(input)
      val counts = new Array[Long](sets.length)
      var i = 0
      while (i < toks.length) {
        val hit = lookup.get(toks(i))
        if (hit != null) {
          var j = 0
          while (j < hit.length) { counts(hit(j)) += 1; j += 1 }
        }
        i += 1
      }
      // argmax with alphabetical (input-order-independent) tie-break:
      // first label in sorted order attaining the max wins
      var best = 0L
      i = 0
      while (i < counts.length) { if (counts(i) > best) best = counts(i); i += 1 }
      var pick = elseLabel
      if (best > 0L) {
        var k = 0
        var found = false
        while (k < sortedLabelIdx.length && !found) {
          if (counts(sortedLabelIdx(k)._2) == best) { pick = sortedLabelIdx(k)._1; found = true }
          k += 1
        }
      }
      org.apache.spark.sql.catalyst.InternalRow(
        new GenericArrayData(counts.map(x => x: Any)),
        UTF8String.fromString(pick),
        toks.length.toLong)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def tokenSetCounts(text: Column, sets: Seq[Seq[String]], labels: Seq[String],
      elseLabel: String): Column =
    ExpressionUtils.column(TokenSetCountsExpr(ExpressionUtils.expression(text),
      sets, labels, elseLabel))

  /** Fixed-size token chunks with overlap — training-sequence preparation
    * (context-window packing input). Chunk i covers tokens
    * [i·(size−overlap), i·(size−overlap)+size); the last chunk ends at the
    * final token (it may overlap its predecessor by more than `overlap`).
    * Tokenization is the shared SQL-oracle convention. One pass, one
    * StringBuilder per chunk.
    */
  case class WordChunksExpr(child: Expression, size: Int, overlap: Int)
      extends UnaryExpression with CodegenFallback {
    require(size >= 1 && overlap >= 0 && overlap < size,
      "need size >= 1 and 0 <= overlap < size")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val toks = words(input)
      val stride = size - overlap
      val chunks = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      var done = false
      while (!done) {
        val from = i * stride
        val until = math.min(from + size, toks.length)
        chunks += spaceJoin(toks, from, until)
        if (until == toks.length) done = true
        i += 1
      }
      new GenericArrayData(chunks.map(c => UTF8String.fromString(c): Any).toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def wordChunks(text: Column, size: Int, overlap: Int): Column =
    ExpressionUtils.column(WordChunksExpr(ExpressionUtils.expression(text), size, overlap))

  /** Greedy next-fit bin packing over an ordered length array: item i goes
    * into the current bin if it fits within `budget`, else opens the next
    * bin. Returns one (bin, off) struct per item, where `off` is the item's
    * token offset inside its bin. An item longer than `budget` gets a bin
    * of its own (and overflows it) — the algorithm is total, callers gate
    * oversized items upstream if they can't use them. One pass, O(1) state:
    * this is the sequential core of context-window packing, run once per
    * bounded pack-group (see Curation.packSequences for the distributed
    * shape).
    */
  case class PackBinsExpr(child: Expression, budget: Long)
      extends UnaryExpression with CodegenFallback {
    require(budget >= 1, "budget must be >= 1")
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("bin", LongType, nullable = false),
        StructField("off", LongType, nullable = false))), containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val lens = input.asInstanceOf[ArrayData]
      val n = lens.numElements()
      val out = new Array[Any](n)
      var bin = 0L
      var acc = 0L
      var i = 0
      while (i < n) {
        val len = lens.getLong(i)
        if (i > 0 && acc + len > budget) { bin += 1; acc = 0L }
        out(i) = org.apache.spark.sql.catalyst.InternalRow(bin, acc)
        acc += len
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def packBins(lengths: Column, budget: Long): Column =
    ExpressionUtils.column(PackBinsExpr(ExpressionUtils.expression(lengths), budget))

  /** Hashed bag-of-n-grams feature counts (the DSIR feature map, Xie et al.
    * 2023): word n-grams for n = 1..maxN, each hashed into one of `buckets`
    * buckets, returned as a SPARSE (bucket, c) array sorted by bucket. One
    * tokenization pass per row, zero shuffle. For each n, a document
    * shorter than n tokens contributes no n-grams (so unigrams always
    * exist, bigrams need >= 2 tokens — the convention an independent SQL
    * engine reproduces with a plain sliding range). Grams hash with
    * [[PortableHash.h31]] so the DuckDB oracle recomputes identical buckets.
    */
  case class HashedNgramCountsExpr(child: Expression, buckets: Int, maxN: Int)
      extends UnaryExpression with CodegenFallback {
    require(buckets >= 1 && maxN >= 1, "need buckets >= 1 and maxN >= 1")
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("bucket", IntegerType, nullable = false),
        StructField("c", LongType, nullable = false))), containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val toks = words(input)
      val counts = new java.util.TreeMap[Integer, java.lang.Long]
      def add(g: String): Unit = {
        val b = (PortableHash.h31(UTF8String.fromString(g)) % buckets).toInt
        val prev = counts.get(b)
        counts.put(b, if (prev == null) 1L else prev + 1L)
      }
      var n = 1
      while (n <= maxN) {
        var i = 0
        val m = toks.length - n + 1
        while (i < m) {
          add(spaceJoin(toks, i, i + n))
          i += 1
        }
        n += 1
      }
      val out = new Array[Any](counts.size())
      val it = counts.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        out(j) = org.apache.spark.sql.catalyst.InternalRow(e.getKey.intValue(), e.getValue)
        j += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def hashedNgramCounts(text: Column, buckets: Int, maxN: Int): Column =
    ExpressionUtils.column(HashedNgramCountsExpr(ExpressionUtils.expression(text), buckets, maxN))

  /** Per-document inner products of a sparse hashed-feature vector with
    * three global per-bucket arrays riding in the task closure: the target
    * corpus counts, the raw corpus counts, and the DSIR log-ratio weights
    * in integer micro-nats. All four outputs are exact integer arithmetic —
    * deterministic across engines, partitions, and retries (a float dot
    * product would be summation-order-dependent). Map-side only: scoring
    * 100 TB of documents against a trained importance model is a pure scan.
    */
  case class DsirDotExpr(child: Expression, tCounts: Array[Long],
      rCounts: Array[Long], lambdaMicro: Array[Long])
      extends UnaryExpression with CodegenFallback {
    require(tCounts.length == rCounts.length && rCounts.length == lambdaMicro.length,
      "bucket arrays must agree in length")
    override def dataType: DataType = StructType(Seq(
      StructField("n_feats", LongType, nullable = false),
      StructField("t_hits", LongType, nullable = false),
      StructField("r_hits", LongType, nullable = false),
      StructField("score_micronats", LongType, nullable = false)))
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      var nf = 0L
      var th = 0L
      var rh = 0L
      var sc = 0L
      var i = 0
      while (i < arr.numElements()) {
        val row = arr.getStruct(i, 2)
        val b = row.getInt(0)
        val c = row.getLong(1)
        nf += c
        th += c * tCounts(b)
        rh += c * rCounts(b)
        sc += c * lambdaMicro(b)
        i += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(nf, th, rh, sc)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def dsirDot(features: Column, tCounts: Array[Long], rCounts: Array[Long],
      lambdaMicro: Array[Long]): Column =
    ExpressionUtils.column(DsirDotExpr(ExpressionUtils.expression(features),
      tCounts, rCounts, lambdaMicro))

  /** Byte-pair-encoding tokenizer application: split text into words
    * (shared tokenization convention), then repeatedly merge the
    * lowest-rank adjacent symbol pair per word (standard BPE inference,
    * Sennrich et al. 2016). Merge ranks ride the task closure; encoding is
    * a zero-shuffle scan at any corpus size. Returns the flat subword
    * array; wrap with size() for token counts.
    */
  case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression with CodegenFallback {
    // merge-table payload (up to vocab-size pairs) stays out of plan
    // strings (the [[payload]] rationale)
    override def stringArgs: Iterator[Any] =
      Iterator(child, s"<${merges.length} merges>")
    @transient private lazy val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      merges.zipWithIndex.foreach { case ((a, b), i) =>
        // first occurrence wins, matching learn()'s emission order
        if (!m.containsKey(a + "\u0000" + b)) m.put(a + "\u0000" + b, i)
      }
      m
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    private def encodeWord(w: String, out: scala.collection.mutable.ArrayBuffer[String]): Unit = {
      var syms = w.map(_.toString).toBuffer
      var done = syms.length < 2
      while (!done) {
        var bestIdx = -1
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          val r = rank.get(syms(i) + "\u0000" + syms(i + 1))
          if (r != null && r < bestRank) { bestRank = r; bestIdx = i }
          i += 1
        }
        if (bestIdx < 0) done = true
        else {
          // merge every occurrence of the chosen pair left-to-right
          val a = syms(bestIdx)
          val b = syms(bestIdx + 1)
          val next = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
              next += a + b; j += 2
            } else { next += syms(j); j += 1 }
          }
          syms = next
          done = syms.length < 2
        }
      }
      out ++= syms
    }
    override def nullSafeEval(input: Any): Any = {
      val toks = words(input)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < toks.length) { encodeWord(toks(i), out); i += 1 }
      new GenericArrayData(out.map(t => UTF8String.fromString(t): Any).toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    ExpressionUtils.column(BpeEncodeExpr(ExpressionUtils.expression(text), merges))

  /** Bloom-filter membership probe riding inside the expression (the
    * serialized filter ships with the task closure). Used as a map-side
    * pre-filter: never false-negative, so filtering with it before an
    * exact join preserves exact results while cutting the shuffle to the
    * candidate survivors.
    */
  case class BloomMightContainExpr(child: Expression, filterBytes: Array[Byte])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    @transient private lazy val bf: org.apache.spark.util.sketch.BloomFilter =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(filterBytes))
    override def nullSafeEval(input: Any): Any =
      bf.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def bloomMightContain(filter: org.apache.spark.util.sketch.BloomFilter, c: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    ExpressionUtils.column(BloomMightContainExpr(ExpressionUtils.expression(c), bos.toByteArray))
  }

  /** Deflate compression ratio (compressed / raw bytes, level 6, raw
    * stream): the standard cheap entropy proxy for corpus quality —
    * boilerplate and repetition compress far below natural text, random
    * noise compresses above it. One Deflater per thread, reset per row.
    */
  case class CompressionRatioExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    @transient private lazy val deflater = new ThreadLocal[java.util.zip.Deflater] {
      override def initialValue(): java.util.zip.Deflater =
        new java.util.zip.Deflater(6, true)
    }
    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      if (bytes.isEmpty) return 1.0
      val d = deflater.get()
      d.reset()
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def compressionRatio(text: Column): Column =
    ExpressionUtils.column(CompressionRatioExpr(ExpressionUtils.expression(text)))

  /** Cosine similarity over two double arrays in one tight loop. The
    * HOF formulation (aggregate ∘ zip_with) is interpreted per element
    * with lambda-variable boxing; this evaluates ~10× faster on 64-dim
    * vectors and is the hot inner loop of every ANN operator.
    */
  case class CosineSimExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Quantize-and-project: micro-quantize a double-array vector
    * (`round(x·quantScale)` per component, the int8/pca shared
    * convention) and dot it with `k` frozen integer component rows in one
    * pass — the apply side of [[graft.ops.Embeddings]] PCA. All-integer
    * outputs (exact, engine-replayable); the component matrix rides the
    * task closure like every other trained model here. Null for vectors
    * whose length differs from the model dimension (scale-friendly: one
    * malformed row must not kill a 100 TB scan).
    */
  case class ProjectVecExpr(child: Expression, componentsMicro: Array[Array[Long]],
      meanMicro: Array[Long], quantScale: Long)
      extends UnaryExpression with CodegenFallback {
    require(componentsMicro.nonEmpty && quantScale >= 1, "need components and a positive scale")
    private val dim = componentsMicro(0).length
    require(componentsMicro.forall(_.length == dim), "ragged component matrix")
    require(meanMicro.length == dim, "mean must have the model dimension")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = {
      val x = input.asInstanceOf[ArrayData]
      if (x.numElements() != dim) return null
      val q = new Array[Long](dim)
      var i = 0
      while (i < dim) {
        q(i) = java.math.BigDecimal.valueOf(x.getDouble(i) * quantScale)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue() - meanMicro(i)
        i += 1
      }
      val out = new Array[Long](componentsMicro.length)
      var k = 0
      while (k < componentsMicro.length) {
        val comp = componentsMicro(k)
        var s = 0L
        var j = 0
        while (j < dim) { s += q(j) * comp(j); j += 1 }
        out(k) = s
        k += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def projectVec(vec: Column, componentsMicro: Array[Array[Long]],
      meanMicro: Array[Long], quantScale: Long): Column =
    ExpressionUtils.column(ProjectVecExpr(ExpressionUtils.expression(vec),
      componentsMicro, meanMicro, quantScale))

  /** Random-hyperplane LSH keys for a double-array vector: `tables`
    * (table, bucket) pairs in one pass (planes per table, deterministic
    * hyperplane components from XXH64(dim, seed)). Single-eval replacement
    * for the nested-HOF formulation.
    *
    * `probes > 1` enables multi-probe LSH (Lv et al., VLDB 2007): per table,
    * also emit the buckets whose bit pattern is within the smallest
    * `probes` XOR masks (ordered by Hamming weight) of the vector's own
    * bucket. Probing the query side boosts recall without growing the
    * corpus-side index; `probes = 2^planes` probes every bucket, making the
    * bucket join provably exhaustive — the correctness gate uses that to
    * pin ANN output to the exact top-k oracle.
    */
  case class HyperplaneKeysExpr(child: Expression, planes: Int, tables: Int, probes: Int = 1)
      extends UnaryExpression with CodegenFallback {
    require(probes >= 1 && probes <= (1 << planes), "probes must be in [1, 2^planes]")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    // XOR masks in probe order: own bucket first, then 1-bit flips, ...
    @transient private lazy val masks: Array[Long] =
      (0L until (1L << planes)).sortBy(m => (java.lang.Long.bitCount(m), m))
        .take(probes).toArray
    // hyperplane components are deterministic constants — cache them per
    // observed dimension instead of re-hashing tables×planes×dim per row
    @transient private var cachedDim: Int = -1
    @transient private var cachedPlanes: Array[Array[Double]] = _
    private def componentsFor(dim: Int): Array[Array[Double]] = {
      if (cachedDim != dim) {
        val cs = Array.ofDim[Double](tables * planes, dim)
        var tp = 0
        while (tp < tables * planes) {
          var i = 0
          while (i < dim) {
            val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(i.toLong, tp.toLong)
            cs(tp)(i) = h.toDouble / Long.MaxValue.toDouble
            i += 1
          }
          tp += 1
        }
        cachedPlanes = cs
        cachedDim = dim
      }
      cachedPlanes
    }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val raw = child.eval(input)
      val out = new Array[Long](tables * probes)
      if (raw != null) {
        val v = raw.asInstanceOf[ArrayData]
        val dim = v.numElements()
        val cs = componentsFor(dim)
        var t = 0
        while (t < tables) {
          var bucket = 0L
          var p = 0
          while (p < planes) {
            val plane = cs(t * planes + p)
            var dot = 0.0
            var i = 0
            while (i < dim) { dot += v.getDouble(i) * plane(i); i += 1 }
            if (dot >= 0) bucket |= (1L << p)
            p += 1
          }
          // fold table index into the key so tables never collide
          var pi = 0
          while (pi < probes) {
            out(t * probes + pi) = (bucket ^ masks(pi)) * tables + t
            pi += 1
          }
          t += 1
        }
      }
      new GenericArrayData(out.map(x => x: Any))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def simhash64(tokens: Column): Column =
    ExpressionUtils.column(SimHash64Expr(ExpressionUtils.expression(tokens)))

  /** A centroid matrix with its row norms, built once per executor. */
  private final class CentroidTable(centroids: Seq[Seq[Double]]) {
    private val cs: Array[Array[Double]] = centroids.map(_.toArray).toArray
    private val cNorms: Array[Double] = cs.map(c => math.sqrt(c.map(x => x * x).sum))
    /** Cosine of `v` to each centroid over their common prefix; -2.0
      * (below every cosine) where either norm is 0.
      */
    def cosines(v: ArrayData): Array[Double] = {
      val dim = v.numElements()
      val sims = new Array[Double](cs.length)
      var ci = 0
      while (ci < cs.length) {
        val c = cs(ci)
        var dot = 0.0; var nv = 0.0
        var i = 0
        val d = math.min(dim, c.length)
        while (i < d) { val x = v.getDouble(i); dot += x * c(i); nv += x * x; i += 1 }
        sims(ci) = if (nv == 0.0 || cNorms(ci) == 0.0) -2.0 else dot / (math.sqrt(nv) * cNorms(ci))
        ci += 1
      }
      sims
    }
  }

  /** IVF cell assignment: ids of the `n` nearest centroids (by cosine) for
    * a vector column. The centroid matrix rides inside the expression —
    * broadcast with the task closure, evaluated in one tight loop.
    */
  case class NearestCentroidsExpr(child: Expression, centroids: Seq[Seq[Double]], n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def stringArgs: Iterator[Any] = Iterator(child, payload(centroids, "centroids"), n)
    @transient private lazy val table = new CentroidTable(centroids)
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val raw = child.eval(input)
      if (raw == null) return new GenericArrayData(Array.empty[Any])
      val sims = table.cosines(raw.asInstanceOf[ArrayData])
      val top = sims.zipWithIndex.sortBy { case (s, i) => (-s, i) }.take(n).map(_._2.toLong)
      new GenericArrayData(top.map(x => x: Any))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** Scalar top-1 centroid assignment. Semantically identical to
    * `nearestCentroids(vec, cs, 1)(0)` but non-nullable END TO END: the
    * GetArrayItem form is nullable, so when the cell is a join key
    * Catalyst inserts an `isnotnull(nearestcentroidsexpr(...))` pre-join
    * filter that re-evaluates the whole centroid scan a second time per
    * row. A null/empty input vector assigns to cell 0 (same as the array
    * form's all -2.0 tie-break).
    */
  case class NearestCentroidExpr(child: Expression, centroids: Seq[Seq[Double]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    // this scalar form is the one JOIN KEYS carry, so it appears in
    // Exchange/Filter/Join nodes — several plan-string copies per plan
    override def stringArgs: Iterator[Any] = Iterator(child, payload(centroids, "centroids"))
    @transient private lazy val table = new CentroidTable(centroids)
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val raw = child.eval(input)
      if (raw == null) return 0L
      val sims = table.cosines(raw.asInstanceOf[ArrayData])
      var best = 0
      var bestSim = Double.NegativeInfinity
      var ci = 0
      while (ci < sims.length) {
        if (sims(ci) > bestSim) { bestSim = sims(ci); best = ci }
        ci += 1
      }
      best.toLong
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def nearestCentroids(vec: Column, centroids: Array[Array[Double]], n: Int): Column =
    ExpressionUtils.column(NearestCentroidsExpr(ExpressionUtils.expression(vec),
      centroids.map(_.toSeq).toSeq, n))

  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    ExpressionUtils.column(NearestCentroidExpr(ExpressionUtils.expression(vec),
      centroids.map(_.toSeq).toSeq))

  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def hyperplaneKeys(vec: Column, planes: Int, tables: Int, probes: Int = 1): Column =
    ExpressionUtils.column(HyperplaneKeysExpr(ExpressionUtils.expression(vec), planes, tables, probes))

  def minhash(tokens: Column, shingleLen: Int, numHashes: Int, bands: Int): Column =
    ExpressionUtils.column(MinHashExpr(ExpressionUtils.expression(tokens), shingleLen, numHashes, bands))

  def winnowFingerprint(text: Column, k: Int = 8, w: Int = 4): Column =
    ExpressionUtils.column(WinnowFingerprintExpr(ExpressionUtils.expression(text), k, w))

  private def codebookArrays(codebooks: Seq[Seq[Seq[Double]]]): Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  private def subDim(cb: Array[Array[Double]]): Int = if (cb.isEmpty) 0 else cb(0).length

  /** Index of the codebook row nearest by L2 to the subvector of `v`
    * starting at `off`; strict-less, so ties resolve to the lowest index.
    */
  private def nearestCode(cb: Array[Array[Double]], v: ArrayData, off: Int): Int = {
    val dsub = subDim(cb)
    var best = 0
    var bestD = Double.PositiveInfinity
    var ci = 0
    while (ci < cb.length) {
      val c = cb(ci)
      var d2 = 0.0
      var i = 0
      while (i < dsub) { val diff = v.getDouble(off + i) - c(i); d2 += diff * diff; i += 1 }
      if (d2 < bestD) { bestD = d2; best = ci }
      ci += 1
    }
    best
  }

  /** Product-quantization encoder (Jégou et al. 2011): split the vector
    * into `m` contiguous subvectors and emit, per subspace, the index of
    * the nearest codebook centroid by L2 distance (strict-less argmin, so
    * ties and padded duplicate centroids deterministically resolve to the
    * lowest index). The codebooks ride in the task closure — tiny metadata
    * (m × ksub × dsub doubles), never a join side. Output is `m` small
    * ints: the 100 TB point of PQ is that everything downstream of the
    * scan (shuffles, the ANN scoring join) carries these codes instead of
    * the full embedding — 8 bytes a row instead of 512.
    */
  case class PqEncodeExpr(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def stringArgs: Iterator[Any] = Iterator(child, payload(codebooks, "codebooks"))
    @transient private lazy val cbs: Array[Array[Array[Double]]] = codebookArrays(codebooks)
    override def nullSafeEval(raw: Any): Any = {
      val v = raw.asInstanceOf[ArrayData]
      val m = cbs.length
      val out = new Array[Any](m)
      var sub = 0
      var off = 0
      while (sub < m) {
        out(sub) = nearestCode(cbs(sub), v, off)
        off += subDim(cbs(sub))
        sub += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** Single-subspace PQ assignment for training rows already exploded to
    * (subspace, subvector): argmin L2 against that subspace's codebook
    * (strict-less, lowest index on ties — identical semantics to
    * [[PqEncodeExpr]], which the encode path uses on whole vectors).
    */
  case class PqSubEncodeExpr(sub: Expression, sv: Expression, codebooks: Seq[Seq[Seq[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    override def left: Expression = sub
    override def right: Expression = sv
    override def dataType: DataType = IntegerType
    override def stringArgs: Iterator[Any] = Iterator(sub, sv, payload(codebooks, "codebooks"))
    @transient private lazy val cbs: Array[Array[Array[Double]]] = codebookArrays(codebooks)
    override def nullSafeEval(a: Any, b: Any): Any =
      nearestCode(cbs(a.asInstanceOf[Int]), b.asInstanceOf[ArrayData], 0)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(sub = l, sv = r)
  }

  /** Asymmetric-distance (ADC) cosine scoring for PQ codes. Per corpus row
    * the work is `m` array lookups + adds (the per-query dot-product table
    * `dotLut` is precomputed once per query: dotLut[sub*ksub + code] =
    * dot(q_sub, centroid); it arrives via the broadcast query side and is
    * projected away in the same stage — it never crosses a shuffle). The
    * centroid squared norms (`normSq`, same flat layout) are shared across
    * queries and ride the closure. sim = Σ dotLut / (|q| · √Σ normSq):
    * with lossless codebooks this IS the exact cosine — the correctness
    * gate runs in that mode.
    */
  case class PqAdcExpr(codes: Expression, dotLut: Expression, qNorm: Expression,
      normSq: Seq[Double], ksub: Int)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with CodegenFallback {
    override def first: Expression = codes
    override def second: Expression = dotLut
    override def third: Expression = qNorm
    override def dataType: DataType = DoubleType
    // |centroid|² table stays out of plan strings (the [[payload]] rationale)
    override def stringArgs: Iterator[Any] = Iterator(codes, dotLut, qNorm,
      s"<${normSq.length} norms>", ksub)
    @transient private lazy val ns: Array[Double] = normSq.toArray
    override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
      val cd = a.asInstanceOf[ArrayData]
      val lut = b.asInstanceOf[ArrayData]
      val qn = c.asInstanceOf[Double]
      val m = cd.numElements()
      var dot = 0.0
      var rn2 = 0.0
      var sub = 0
      while (sub < m) {
        val idx = sub * ksub + cd.getInt(sub)
        dot += lut.getDouble(idx)
        rn2 += ns(idx)
        sub += 1
      }
      if (qn == 0.0 || rn2 == 0.0) 0.0 else dot / (qn * math.sqrt(rn2))
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(codes = f, dotLut = s, qNorm = t)
  }

  /** 60-bit perceptual hash of a binary payload: integer byte accumulators
    * per position class (i mod 60), bit d set iff class d's sum exceeds
    * the mean (strict `60·acc > total` — pure integer compare, so an
    * independent SQL engine replays it EXACTLY; 60 bits keeps every
    * `1<<d` inside a positive signed 64-bit value on both engines). This
    * is the grid-average→threshold shape of image pHash applied to the
    * opaque media bytes; near-identical payloads differ in few bits, so
    * banded Hamming joins find near-dups without a cross join. Null/empty
    * payloads hash to 0.
    */
  case class MediaPHashExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val raw = child.eval(input)
      if (raw == null) return 0L
      val bytes = raw.asInstanceOf[Array[Byte]]
      if (bytes.isEmpty) return 0L
      val acc = new Array[Long](60)
      var i = 0
      while (i < bytes.length) {
        acc(i % 60) += (bytes(i) & 0xff).toLong
        i += 1
      }
      var total = 0L
      var d = 0
      while (d < 60) { total += acc(d); d += 1 }
      var hash = 0L
      d = 0
      while (d < 60) {
        if (60L * acc(d) > total) hash |= (1L << d)
        d += 1
      }
      hash
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** Scalar int8 quantization of a double vector against a [vmin, vmax]
    * range: code_i = round((x_i − vmin) · 255 / (vmax − vmin)), clamped
    * to [0, 255]; a constant vector (zero span) codes to 0. Every step
    * is a deterministic IEEE double op in fixed order, so an independent
    * engine replays the codes bit-for-bit — the correctness gate relies
    * on that. Single pass, no boxing (the HOF transform formulation is
    * interpreted per element).
    */
  case class ScaleToInt8Expr(vec: Expression, vmin: Expression, vmax: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with CodegenFallback {
    override def first: Expression = vec
    override def second: Expression = vmin
    override def third: Expression = vmax
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
      val v = a.asInstanceOf[ArrayData]
      val lo = b.asInstanceOf[Double]
      val hi = c.asInstanceOf[Double]
      val n = v.numElements()
      val out = new Array[Any](n)
      val span = hi - lo
      var i = 0
      while (i < n) {
        val code = if (span == 0.0) 0L
        else {
          val c0 = math.round((v.getDouble(i) - lo) * 255.0 / span)
          if (c0 < 0L) 0L else if (c0 > 255L) 255L else c0
        }
        out(i) = code.toInt
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(vec = f, vmin = s, vmax = t)
  }

  def scaleToInt8(vec: Column, vmin: Column, vmax: Column): Column =
    ExpressionUtils.column(ScaleToInt8Expr(ExpressionUtils.expression(vec),
      ExpressionUtils.expression(vmin), ExpressionUtils.expression(vmax)))

  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ExpressionUtils.column(PqEncodeExpr(ExpressionUtils.expression(vec),
      codebooks.map(_.map(_.toSeq).toSeq).toSeq))

  def pqSubEncode(sub: Column, sv: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ExpressionUtils.column(PqSubEncodeExpr(ExpressionUtils.expression(sub),
      ExpressionUtils.expression(sv), codebooks.map(_.map(_.toSeq).toSeq).toSeq))

  def pqAdc(codes: Column, dotLut: Column, qNorm: Column,
      normSq: Array[Double], ksub: Int): Column =
    ExpressionUtils.column(PqAdcExpr(ExpressionUtils.expression(codes),
      ExpressionUtils.expression(dotLut), ExpressionUtils.expression(qNorm),
      normSq.toSeq, ksub))

  def mediaPHash(content: Column): Column =
    ExpressionUtils.column(MediaPHashExpr(ExpressionUtils.expression(content)))

  /** The Gopher repetition-signal family (Rae et al. 2021 §A1.1) that
    * CurationStatsExpr does not already carry: per-document top-n-gram
    * character fractions (n = 2..4, all occurrences of the single most
    * frequent word n-gram) and duplicate-n-gram character fractions
    * (n = 5..10, occurrences beyond the first). One tokenization pass,
    * nine count maps, no shuffle — a scan-speed projection.
    *
    * Conventions shared with the sibling signals so the families compose:
    * tokens are `lower(trim(text))` split on `\s+` (limit -1, same as
    * CurationStatsExpr and every gram builder); gram text is the
    * single-space join; every fraction's denominator is the total n-gram
    * characters for that n (Gopher normalizes by document characters —
    * monotonically related; this keeps the whole family on one
    * denominator convention). Fractions are one IEEE double division, so
    * the DuckDB oracle replays them bit-for-bit. Top-gram ties break to
    * the UTF-8-byte-order-smallest gram — `ORDER BY cnt DESC, gram`
    * replays the winner exactly.
    */
  case class RepetitionStatsExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(
      (2 to 4).flatMap(n => Seq(
        StructField(s"top_${n}gram", StringType, nullable = false),
        StructField(s"top_${n}gram_frac", DoubleType, nullable = false))) ++
      (5 to 10).map(n => StructField(s"dup_${n}gram_frac", DoubleType, nullable = false)))
    override def nullSafeEval(input: Any): Any = {
      val toks = words(input)
      val out = new Array[Any](12)
      var o = 0
      var n = 2
      while (n <= 4) {
        var total = 0L
        var bestGram: String = ""
        var bestCnt = 0L
        wordGramCounts(toks, n).forEach { (g, c) =>
          val cnt = c.toLong
          total += cnt * g.length
          val better = cnt > bestCnt || (cnt == bestCnt && bestCnt > 0L &&
            UTF8String.fromString(g).compareTo(UTF8String.fromString(bestGram)) < 0)
          if (better) { bestGram = g; bestCnt = cnt }
        }
        out(o) = UTF8String.fromString(bestGram)
        out(o + 1) =
          if (total == 0L) 0.0 else (bestCnt * bestGram.length).toDouble / total
        o += 2
        n += 1
      }
      while (n <= 10) {
        out(o) = dupCharFrac(wordGramCounts(toks, n))
        o += 1
        n += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def repetitionStats(text: Column): Column =
    ExpressionUtils.column(RepetitionStatsExpr(ExpressionUtils.expression(text)))

  /** PassJoin blocking keys (Li, Deng, Feng 2011, "PASS-JOIN: a partition-
    * based method for similarity joins"): if ed(a, b) <= d, then splitting
    * `a` into d+1 segments, at least one segment occurs VERBATIM in `b`
    * at a start position shifted by at most d (pigeonhole: d edits cannot
    * touch all d+1 segments, and untouched text shifts by at most the net
    * insertions/deletions so far). So equality on
    * (targetLen, segIdx, segText) keys is a COMPLETE candidate filter for
    * edit distance — never all-pairs, and the exchange carries only short
    * substrings.
    *
    * `index = false` (probe side): one key per segment of the string
    * itself — `(l = |a|, i, segment_i(a))`.
    * `index = true` (indexed side): for every compatible probe length
    * l in [|b|-d, |b|+d], every segment slot i of the length-l
    * segmentation, and every start within the +-d window, the substring of
    * `b` of that segment's length — `(l, i, sub)`; deduplicated per row.
    *
    * Segmentation of a length-l string into n = d+1 parts: k = l / n,
    * m = l mod n; the first n-m segments have length k, the last m have
    * k+1 (the standard even split). Zero-length segments (l < n) emit ""
    * keys on both sides, so strings shorter than d+1 degrade to
    * length-blocked candidates rather than losing completeness.
    */
  case class PassJoinKeysExpr(child: Expression, maxDist: Int, index: Boolean)
      extends UnaryExpression with CodegenFallback {
    require(maxDist >= 0, "maxDist must be >= 0")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("l", IntegerType, nullable = false),
      StructField("seg", IntegerType, nullable = false),
      StructField("sub", StringType, nullable = false))), containsNull = false)
    // (start, len) of segment i when a length-l string splits into d+1 parts
    private def segBounds(l: Int): Array[(Int, Int)] = {
      val n = maxDist + 1
      val k = l / n
      val m = l % n
      val out = new Array[(Int, Int)](n)
      var start = 0
      var i = 0
      while (i < n) {
        val len = if (i >= n - m) k + 1 else k
        out(i) = (start, len)
        start += len
        i += 1
      }
      out
    }
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val len = s.length
      val d = maxDist
      val rows = new scala.collection.mutable.ArrayBuffer[Any]
      if (!index) {
        val bounds = segBounds(len)
        var i = 0
        while (i < bounds.length) {
          val (p, k) = bounds(i)
          rows += org.apache.spark.sql.catalyst.InternalRow(
            len, i, UTF8String.fromString(s.substring(p, p + k)))
          i += 1
        }
      } else {
        val seen = new java.util.HashSet[String]
        var l = math.max(0, len - d)
        while (l <= len + d) {
          val bounds = segBounds(l)
          var i = 0
          while (i < bounds.length) {
            val (p, k) = bounds(i)
            if (k == 0) {
              if (seen.add(s"$l|$i|"))
                rows += org.apache.spark.sql.catalyst.InternalRow(l, i, UTF8String.fromString(""))
            } else {
              var q = math.max(0, p - d)
              val qMax = math.min(len - k, p + d)
              while (q <= qMax) {
                val sub = s.substring(q, q + k)
                if (seen.add(s"$l|$i|$sub"))
                  rows += org.apache.spark.sql.catalyst.InternalRow(l, i, UTF8String.fromString(sub))
                q += 1
              }
            }
            i += 1
          }
          l += 1
        }
      }
      new GenericArrayData(rows.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def passJoinKeys(text: Column, maxDist: Int, index: Boolean): Column =
    ExpressionUtils.column(PassJoinKeysExpr(ExpressionUtils.expression(text), maxDist, index))

  /** Multi-pattern substring matching in ONE text pass (Aho-Corasick 1975,
    * built from the published construction): returns
    * struct(n_matches BIGINT, n_distinct_terms INT) — total occurrences of
    * every term (overlapping occurrences all count: each text position
    * that ends a term contributes, which is also what the oracle's
    * positional scan counts) and how many distinct terms appeared. The
    * blocklist tier of content filtering (profanity/NSFW/spam term lists):
    * a naive contains() chain scans the document once PER TERM — a
    * thousand-entry list means a thousand passes — where the automaton is
    * one pass total at any list size, with the trie riding the closure
    * like every other frozen model here. SUBSTRING semantics by design
    * (terms match inside words; add boundary chars to the terms
    * themselves for word-boundary behavior) — portable to any engine,
    * no locale-dependent tokenization.
    */
  case class TermMatchExpr(child: Expression, terms: Seq[String],
      caseInsensitive: Boolean) extends UnaryExpression with CodegenFallback {
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.forall(_.nonEmpty), "empty terms are not matchable")
    override def dataType: DataType = StructType(Seq(
      StructField("n_matches", LongType, nullable = false),
      StructField("n_distinct_terms", IntegerType, nullable = false)))
    override def nullable: Boolean = false

    // goto / fail / output construction, one-time per executor
    @transient private lazy val auto: (Array[scala.collection.mutable.HashMap[Char, Int]], Array[Int], Array[List[Int]]) = {
      val ts = terms.map(t => if (caseInsensitive) t.toLowerCase else t)
      val goto = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.HashMap.empty[Char, Int])
      val out = scala.collection.mutable.ArrayBuffer(List.empty[Int])
      ts.zipWithIndex.foreach { case (t, ti) =>
        var s = 0
        t.foreach { c =>
          s = goto(s).getOrElseUpdate(c, {
            goto += scala.collection.mutable.HashMap.empty[Char, Int]
            out += Nil
            goto.size - 1
          })
        }
        out(s) ::= ti
      }
      val fail = Array.fill(goto.size)(0)
      val q = scala.collection.mutable.Queue.empty[Int]
      goto(0).values.foreach(q += _)
      while (q.nonEmpty) {
        val s = q.dequeue()
        goto(s).foreach { case (c, nxt) =>
          q += nxt
          var f = fail(s)
          while (f != 0 && !goto(f).contains(c)) f = fail(f)
          fail(nxt) = if (nxt != goto(f).getOrElse(c, 0)) goto(f).getOrElse(c, 0) else 0
          out(nxt) = out(nxt) ++ out(fail(nxt)) // dictionary-suffix outputs
        }
      }
      (goto.toArray, fail, out.toArray)
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val raw = child.eval(input)
      val (goto, fail, out) = auto
      if (raw == null)
        return org.apache.spark.sql.catalyst.InternalRow(0L, 0)
      val text0 = raw.toString
      val text = if (caseInsensitive) text0.toLowerCase else text0
      var total = 0L
      val seen = new Array[Boolean](terms.size)
      var s = 0
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        while (s != 0 && !goto(s).contains(c)) s = fail(s)
        s = goto(s).getOrElse(c, 0)
        var o = out(s)
        while (o.nonEmpty) { total += 1; seen(o.head) = true; o = o.tail }
        i += 1
      }
      var distinct = 0
      var d = 0
      while (d < seen.length) { if (seen(d)) distinct += 1; d += 1 }
      org.apache.spark.sql.catalyst.InternalRow(total, distinct)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  def termMatches(text: Column, terms: Seq[String],
      caseInsensitive: Boolean = true): Column =
    ExpressionUtils.column(TermMatchExpr(ExpressionUtils.expression(text),
      terms, caseInsensitive))

  /** Jaro-Winkler similarity (Jaro 1989; Winkler 1990) — the record-linkage
    * string comparator: DOUBLE in [0, 1], transposition-tolerant, with the
    * Winkler common-prefix boost (up to 4 units, weight 0.1, applied only
    * when the base Jaro similarity exceeds 0.7 — the published boost
    * threshold). Operates on UTF-8 BYTES, not code points: that is what
    * DuckDB's `jaro_winkler_similarity` (the correctness oracle for
    * `ns_jaro_winkler`) does, verified empirically — e.g. two 6-kana
    * strings differing in the last kana score 26/27, the 18-byte answer,
    * not 8/9 — and the two definitions coincide on ASCII, the domain this
    * comparator is designed for (names, codes, titles). Matches the
    * oracle BIT-exactly because the floating-point reduction is evaluated
    * in the same order: `(m/l1 + m/l2 + (m-t)/m) / 3`, then
    * `sim + p*0.1*(1-sim)`. Either side empty → 0.0 (DuckDB convention,
    * including both-empty). Null-safe via BinaryExpression (null in →
    * null out).
    *
    * Used by [[graft.ops.Fuzzy.jaroWinklerJoin]] as the verify step after
    * blocking; exposed in SQL as `graft_jaro_winkler`.
    */
  case class JaroWinklerExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val s1 = a.asInstanceOf[UTF8String].getBytes
      val s2 = b.asInstanceOf[UTF8String].getBytes
      val l1 = s1.length
      val l2 = s2.length
      if (l1 == 0 || l2 == 0) return 0.0
      val window = math.max(math.max(l1, l2) / 2 - 1, 0)
      val m1 = new Array[Boolean](l1)
      val m2 = new Array[Boolean](l2)
      var matches = 0
      var i = 0
      while (i < l1) {
        val hi = math.min(l2 - 1, i + window)
        var j = math.max(0, i - window)
        var found = false
        while (j <= hi && !found) {
          if (!m2(j) && s1(i) == s2(j)) {
            m1(i) = true; m2(j) = true; matches += 1; found = true
          }
          j += 1
        }
        i += 1
      }
      if (matches == 0) return 0.0
      // half-transpositions: matched chars out of order, counted pairwise
      var t = 0
      var k = 0
      i = 0
      while (i < l1) {
        if (m1(i)) {
          while (!m2(k)) k += 1
          if (s1(i) != s2(k)) t += 1
          k += 1
        }
        i += 1
      }
      val tr = t / 2
      val m = matches.toDouble
      var sim = (m / l1 + m / l2 + (m - tr) / m) / 3.0
      if (sim > 0.7) {
        val maxP = math.min(4, math.min(l1, l2))
        var p = 0
        while (p < maxP && s1(p) == s2(p)) p += 1
        sim = sim + p * 0.1 * (1 - sim)
      }
      sim
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def jaroWinkler(a: Column, b: Column): Column =
    ExpressionUtils.column(JaroWinklerExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Longest-common-subsequence LENGTH over two token arrays — the
    * ROUGE-L kernel. Classic O(n·m) two-row DP per pair, token equality
    * by exact UTF8String compare (case/tokenization policy is the
    * caller's — [[graft.ops.EvalMetrics.rougeL]] applies the corpus
    * convention and a maxTokens truncation BEFORE this expression, so
    * the DP is bounded). Null array → null (BinaryExpression contract);
    * null ELEMENTS never match (the tokenizers never produce them).
    * CodegenFallback like the other bounded comparators
    * ([[JaroWinklerExpr]]): the per-row loop dominates any codegen win.
    */
  case class TokenLcsExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = x.numElements(); val m = y.numElements()
      if (n == 0 || m == 0) return 0L
      val ys = Array.tabulate(m)(j => if (y.isNullAt(j)) null else y.getUTF8String(j))
      var prev = new Array[Long](m + 1)
      var curr = new Array[Long](m + 1)
      var i = 0
      while (i < n) {
        val xi = if (x.isNullAt(i)) null else x.getUTF8String(i)
        var j = 0
        while (j < m) {
          val diag = prev(j) +
            (if (xi != null && ys(j) != null && xi.equals(ys(j))) 1L else 0L)
          val best0 = if (prev(j + 1) > curr(j)) prev(j + 1) else curr(j)
          curr(j + 1) = if (diag > best0) diag else best0
          j += 1
        }
        val t = prev; prev = curr; curr = t
        java.util.Arrays.fill(curr, 0L)
        i += 1
      }
      prev(m)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def tokenLcs(a: Column, b: Column): Column =
    ExpressionUtils.column(TokenLcsExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Per-n gram total/distinct counts over ONE token array in one pass —
    * the rep-n kernel ([[graft.ops.EvalMetrics.seqRepN]]): per n a hash
    * multiset of gram keys while the totals are arithmetic, versus the HOF
    * formulation's per-n gram-array build + interpreted array_distinct
    * (the [[BleuMultiRefExpr]] lesson, measured ~8× on 300-token
    * docs). Emits one (n, total_grams, distinct_grams) row per n with at
    * least one gram — ns with none are ABSENT, the family convention.
    * Null array = empty. Gram keys are [[spaceJoin]]s, as in the BLEU
    * kernel.
    */
  case class GramRepCountsExpr(child: Expression, maxN: Int)
      extends UnaryExpression with CodegenFallback {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    private val rowType = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("total_grams", LongType, nullable = false),
      StructField("distinct_grams", LongType, nullable = false)))
    override def dataType: DataType = ArrayType(rowType, containsNull = false)
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val t = tokensOf(child.eval(input))
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.catalyst.InternalRow]
      var n = 1
      while (n <= maxN) {
        val total = t.length - n + 1
        if (total > 0)
          rows += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](n.toLong, total.toLong, wordGramCounts(t, n).size.toLong))
        n += 1
      }
      new GenericArrayData(rows.toArray[Any])
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def gramRepCounts(tokens: Column, maxN: Int): Column =
    ExpressionUtils.column(GramRepCountsExpr(ExpressionUtils.expression(tokens), maxN))

  /** Per-n clipped-overlap components over BOTH sides in one pass — the
    * row-local twin of [[graft.ops.EvalMetrics.ngramOverlap]]'s
    * distributed (pair, n, gram) aggregate, emitting the identical
    * (n, matches, cand_total, ref_total) rows (EVERY n in 1..maxN,
    * including all-zero coverage rows — callers filter, exactly like
    * ngramOverlap's consumers). `matches` is the clipped count
    * ([[clippedMatches]] of the candidate grams against the reference
    * multiset) — the [[BleuMultiRefExpr]] clip generalized to column-n
    * and to CHARACTER grams.
    *
    * `chars = false`: children are token arrays; gram keys are
    * [[spaceJoin]]s and match the distributed kernel's concat_ws(" ")
    * identity exactly.
    * `chars = true`: children are STRINGS (pre-lowercased/truncated by
    * the caller — the chrF maxChars contract); grams slice CODE POINTS,
    * matching Spark SQL's substr semantics (and DuckDB's substring) so
    * supplementary-plane text scores identically to the distributed
    * form. O(maxN·len) hash ops per row, memory bounded by the caller's
    * truncation contract; CodegenFallback like the sibling kernels (the
    * loop dominates any codegen win). Null input = empty side.
    */
  case class GramPrfCountsExpr(left: Expression, right: Expression,
      maxN: Int, chars: Boolean)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with CodegenFallback {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    private val rowType = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("matches", LongType, nullable = false),
      StructField("cand_total", LongType, nullable = false),
      StructField("ref_total", LongType, nullable = false)))
    override def dataType: DataType = ArrayType(rowType, containsNull = false)
    override def nullable: Boolean = false
    // one side as (unit count, key of the n-gram at i): token arrays key
    // on spaceJoin, strings on the code-point slice
    private def sideOf(raw: Any): (Int, (Int, Int) => String) = raw match {
      case s: UTF8String =>
        val cps = s.toString.codePoints().toArray
        (cps.length, (i, n) => new String(cps, i, n))
      case other =>
        val t = tokensOf(other)
        (t.length, (i, n) => spaceJoin(t, i, i + n))
    }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val (cLen, cKey) = sideOf(left.eval(input))
      val (rLen, rKey) = sideOf(right.eval(input))
      val out = new Array[Any](maxN)
      var n = 1
      while (n <= maxN) {
        val m = n
        val matches = clippedMatches(gramCounts(rLen, m)(rKey(_, m)), cLen, m)(cKey(_, m))
        out(n - 1) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](n.toLong, matches,
            math.max(cLen - n + 1, 0).toLong,
            math.max(rLen - n + 1, 0).toLong))
        n += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def gramPrfCounts(cand: Column, ref: Column, maxN: Int, chars: Boolean): Column =
    ExpressionUtils.column(GramPrfCountsExpr(
      ExpressionUtils.expression(cand), ExpressionUtils.expression(ref), maxN, chars))

  /** All eight BLEU clipped-count components (matches_n / total_n for
    * n = 1..4) plus the two lengths for a candidate against ITS
    * references, in ONE pass per (candidate, references[]) row — the
    * kernel behind every BLEU form: [[graft.ops.EvalMetrics.bleuComponents]]
    * and the streaming corpus-BLEU monitor pass one reference as
    * array(ref), [[graft.ops.EvalMetrics.bleuComponentsMultiRef]] a
    * pair's collected references. sacrebleu semantics: per n, the
    * reference multiset is the per-gram MAX count over the references
    * (merge-max across the per-reference maps; one reference's counts
    * are its max counts, no second map), and candidate grams consume
    * from it ([[clippedMatches]]) ≡ Σ_g min(cand_g, max_j ref_jg),
    * Papineni's modified precision — O(4·len) hash ops per row versus
    * the HOF formulation's distinct × (2 filters) quadratic scans, and
    * one expression eval versus ~20 CodegenFallback HOF nodes (the HOF
    * draft measured 4.9 s / 1M short rows; this kernel ~5× less). The
    * brevity-penalty reference length is the CLOSEST reference token
    * length to the candidate's, ties to the SHORTER (min by
    * (|len − c|, len) — order-invariant, so the caller's collect_list
    * order never matters). Gram keys are [[spaceJoin]]s.
    *
    * Children: token array + array of token arrays, pre-tokenized and
    * pre-truncated (the caller's maxTokens contract). Null arrays count
    * as empty, never null out; an empty reference ARRAY degrades to
    * all-zero counts with ref_len 0 (the multi-reference caller drops
    * pairs with no reference row, so it never reaches the gates).
    * CodegenFallback like the other bounded per-row kernels
    * ([[TokenLcsExpr]]): the loop dominates any codegen win.
    */
  case class BleuMultiRefExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with CodegenFallback {
    override def dataType: DataType = StructType(
      StructField("cand_len", LongType, nullable = false) +:
      StructField("ref_len", LongType, nullable = false) +:
      (1 to 4).flatMap(n => Seq(
        StructField(s"matches_$n", LongType, nullable = false),
        StructField(s"total_$n", LongType, nullable = false))))
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val ct = tokensOf(left.eval(input))
      val refs: Array[Array[String]] = right.eval(input) match {
        case null => Array.empty
        case a: ArrayData => Array.tabulate(a.numElements())(i =>
          tokensOf(if (a.isNullAt(i)) null else a.getArray(i)))
      }
      val out = new Array[Any](10)
      out(0) = ct.length.toLong
      // closest reference length, ties to the shorter
      var bestLen = 0L
      var bestDist = Long.MaxValue
      refs.foreach { rt =>
        val rl = rt.length.toLong
        val d = math.abs(rl - ct.length)
        if (d < bestDist || (d == bestDist && rl < bestLen)) {
          bestDist = d; bestLen = rl
        }
      }
      out(1) = if (refs.isEmpty) 0L else bestLen
      var n = 1
      while (n <= 4) {
        val m = n
        val maxCounts = refs.iterator.map(wordGramCounts(_, m)).reduceOption { (acc, cur) =>
          cur.forEach { (k, c) =>
            val prev = acc.get(k)
            if (prev == null || c > prev) acc.put(k, c)
          }
          acc
        }.getOrElse(new java.util.HashMap[String, Integer]())
        out(2 * n) = clippedMatches(maxCounts, ct.length, m)(i => spaceJoin(ct, i, i + m))
        out(2 * n + 1) = math.max(ct.length - n + 1, 0).toLong
        n += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def bleuMultiRefStruct(candTokens: Column, refsTokens: Column): Column =
    ExpressionUtils.column(BleuMultiRefExpr(
      ExpressionUtils.expression(candTokens), ExpressionUtils.expression(refsTokens)))

  /** [[BleuMultiRefExpr]] over the one reference `refTokens`. */
  def bleuComponentsStruct(candTokens: Column, refTokens: Column): Column =
    bleuMultiRefStruct(candTokens, array(refTokens))

  /** Integer-exact permille Pearson correlation tail for
    * [[graft.ops.Profile.correlationMatrix]]: given the exact decimal
    * co-moment combinations num = n·Sxy − Sx·Sy, dx = n·Sx2 − Sx²,
    * dy = n·Sy2 − Sy², returns round-half-away(1000·num / √(dx·dy)) as a
    * BIGINT with NO IEEE operation anywhere — the last float tail in the
    * exact tier, eliminated per the round-5 review.
    *
    * Derivation (k = |result|, all integer): k = ⌊r + ½⌋ for
    * r = 1000|num|/√(dx·dy) (floor(x+½) IS round-half-away for x ≥ 0), and
    * with A = (2000·num)², B = dx·dy that is the largest k with
    * (2k−1)²·B ≤ A, i.e. k = ⌊(√(A/B)+1)/2⌋. Two standard identities make
    * it exact in integers: ⌊√x⌋ = ⌊√⌊x⌋⌋ for real x ≥ 0, and no integer
    * lies strictly inside (⌊√(A/B)⌋, √(A/B)+1), so
    * k = (⌊√(A div B)⌋ + 1) div 2 — one BigInteger division and one
    * BigInteger.sqrt (Java 9+, exact floor sqrt). A and B exceed 10³⁸ for
    * large inputs (A ~ 4·10⁶·num²), which is why this is a BigInteger
    * expression rather than decimal(38,0) column arithmetic: the CHILDREN
    * must fit decimal(38,0) (budget: n·S2 < 10³⁸, e.g. 10¹² rows of
    * 10¹³-unit values), the internals are arbitrary-precision.
    *
    * Null when any child is null or dx ≤ 0 or dy ≤ 0 (constant column —
    * correlation undefined). Runs on pair-count-sized frames (the unpivoted
    * matrix), so CodegenFallback costs nothing. Gate: ns_correlation,
    * ns_assortativity + the PropertySpec law pinning it to a brute-force
    * scan model on random integer vectors.
    */
  case class CorrPermilleExpr(first: Expression, second: Expression, third: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
      with CodegenFallback {
    import java.math.BigInteger
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(n: Any, d1: Any, d2: Any): Any = {
      val num = n.asInstanceOf[Decimal].toJavaBigDecimal.toBigIntegerExact
      val dx = d1.asInstanceOf[Decimal].toJavaBigDecimal.toBigIntegerExact
      val dy = d2.asInstanceOf[Decimal].toJavaBigDecimal.toBigIntegerExact
      if (dx.signum <= 0 || dy.signum <= 0) null
      else {
        val a = num.abs.multiply(BigInteger.valueOf(2000L)).pow(2)
        val b = dx.multiply(dy)
        val k = a.divide(b).sqrt().add(BigInteger.ONE).shiftRight(1).longValueExact()
        if (num.signum < 0) -k else k
      }
    }
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  def corrPermille(num: Column, dx: Column, dy: Column): Column =
    ExpressionUtils.column(CorrPermilleExpr(
      ExpressionUtils.expression(num.cast("decimal(38,0)")),
      ExpressionUtils.expression(dx.cast("decimal(38,0)")),
      ExpressionUtils.expression(dy.cast("decimal(38,0)"))))

  /** Exact G-Pass@k_τ on the micro grid — Liu et al. 2024's
    * stable-reasoning generalization of pass@k: the probability that at
    * least ⌈τ·k⌉ of k uniformly-drawn samples pass, given c of n
    * passed — the hypergeometric tail
    * Σ_{j=⌈τk⌉}^{k} C(c,j)·C(n−c,k−j) / C(n,k), evaluated with
    * ARBITRARY-PRECISION integers and floored ONCE at the end
    * (BigInteger — exact for any per-problem sample count n, where the
    * pass@k compounded-floor folds would trade ≤k µ of slack for
    * column-only arithmetic; this kernel runs on PROBLEM-sized rows, so
    * a bounded loop costs nothing). Binomials build stepwise as
    * acc·(a−b+i)/i — each partial product IS C(a−b+i, i), so every
    * division is exact. τ arrives as a rational (num, den): floats have
    * no place on a replayable grid. NULL when k > n (undefined — the
    * passAtK convention) or any child is NULL. τ = 1/k degenerates to
    * pass@k and τ = 1 to pass^k (the cross-family laws EvalMetricsSpec
    * pins). Children: (n, c, k, tauNum, tauDen) as longs; requires
    * k ≥ 1, 0 ≤ c ≤ n, 1 ≤ tauNum ≤ tauDen. CodegenFallback like the
    * other bounded kernels — the loop dominates any codegen win.
    */
  case class GPassAtKExpr(children: Seq[Expression]) extends Expression
      with CodegenFallback {
    require(children.length == 5, "expects (n, c, k, tauNum, tauDen)")
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.contains(null)) null
      else {
        import java.math.BigInteger
        val Seq(n, c, k, tn, td) = vs.map(_.asInstanceOf[Long])
        require(k >= 1 && tn >= 1 && tn <= td && c >= 0 && c <= n,
          s"gPassAtK: need k >= 1, 0 <= c <= n, 1 <= tauNum <= tauDen " +
            s"(got n=$n c=$c k=$k tau=$tn/$td)")
        if (k > n) null
        else {
          def comb(a: Long, b: Long): BigInteger =
            if (b < 0 || b > a) BigInteger.ZERO
            else {
              var acc = BigInteger.ONE
              var i = 1L
              while (i <= b) {
                acc = acc.multiply(BigInteger.valueOf(a - b + i))
                  .divide(BigInteger.valueOf(i))
                i += 1
              }
              acc
            }
          val j0 = (tn * k + td - 1) / td
          var num = BigInteger.ZERO
          var j = j0
          while (j <= k) {
            num = num.add(comb(c, j).multiply(comb(n - c, k - j)))
            j += 1
          }
          num.multiply(BigInteger.valueOf(1000000L))
            .divide(comb(n, k)).longValueExact()
        }
      }
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(children = newChildren)
  }

  def gPassAtKMicro(n: Column, c: Column, k: Column, tauNum: Column,
      tauDen: Column): Column =
    ExpressionUtils.column(GPassAtKExpr(Seq(n, c, k, tauNum, tauDen)
      .map(x => ExpressionUtils.expression(x.cast("long")))))
}
