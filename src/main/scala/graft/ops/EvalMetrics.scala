package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.exact.{fBeta, scaled}

/** Corpus-scale n-gram overlap metrics between paired texts — the eval
  * half of a training-data pipeline: scoring model outputs against
  * references (BLEU / ROUGE-N), measuring self-similarity of generated
  * corpora (pair each sample with a sampled peer and read the BLEU
  * column — self-BLEU), and character-level F for morphologically rich
  * languages where word n-grams under-credit (chrF). One operator call
  * scores MILLIONS of pairs in two shuffles; the per-pair loop every
  * reference implementation ships is the non-distributed shape.
  *
  * All outputs are integer-exact (counts + permille ratios via integer
  * division, geometric means via the floor-isqrt grid), so every score
  * replays bit-for-bit in an independent SQL engine — the same contract
  * discipline as the planning/profile families. The float variants
  * (exp-brevity-penalty BLEU, smoothed precisions) are one `CASE` away
  * from the emitted components and deliberately NOT emitted: floats
  * don't replay across engines, components do.
  *
  * Tokenization = the corpus convention everywhere else in the repo:
  * lowercase, split on `\s+`, empty/blank text = zero tokens.
  *
  * Scale shape (round-11 optimization; identical results either way):
  * the clipped counts are per PAIR, so the hot path clips ROW-LOCALLY —
  * one bounded hash-multiset pass per row (O(maxN·len) hash ops, memory
  * = one row's grams; guide §2.4 "remove shuffles outright") — with
  * ZERO exchange beyond the caller's pair frame. The round-10
  * distributed form (two-stage generator → ONE (pair, n, gram) hash
  * shuffle with map-side partials → pair-sized pivot) survives only as
  * the `*Shuffled` law witnesses: test-only reference implementations
  * that EvalMetricsSpec compares the kernels against. No code path
  * selects them. No join of the two sides, no window, no driver state
  * in either form.
  */
object EvalMetrics {

  private def toks(c: Column): Column = {
    // array_remove("") is load-bearing: trim() strips ASCII spaces ONLY,
    // so a tab/newline at either edge leaves a phantom "" token after the
    // split ("a b\n" -> ["a","b",""]) that would score spurious clipped
    // matches on BOTH sides of newline-terminated model outputs; empty
    // strings can only arise from edge separators, never real tokens
    val t = trim(lower(c))
    when(c.isNull || length(t) === 0, array().cast("array<string>"))
      .otherwise(array_remove(split(t, "\\s+"), ""))
  }

  /** Word n-grams parameterized by COLUMN n (the spec-explode pattern —
    * see [[sideCounts]]); empty when the text has fewer than n tokens
    * (sequence() would go DESCENDING on an inverted range — the guard is
    * load-bearing, not cosmetic).
    */
  private def wordGrams(tokens: Column, n: Column): Column = {
    val nI = n.cast("int")
    when(size(tokens) >= nI,
      transform(sequence(lit(1), size(tokens) - nI + lit(1)),
        i => concat_ws(" ", slice(tokens, i, nI))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-(pair, n) clipped-match components over word n-grams:
    * (pair_id, n, matches, cand_total, ref_total) — `matches` is the
    * CLIPPED count (per distinct gram, min of the two sides' counts), so
    * a candidate repeating a reference word 50 times scores it once per
    * reference occurrence, never 50. EVERY (pair, n) appears, including
    * all-zero rows for gram-free pairs (the explode_outer coverage
    * contract — see sideCounts). The building block of the test-only
    * reference forms: [[bleuComponentsShuffled]] pivots it wide and
    * [[rougeNShuffled]] filters the zero rows back out. No production
    * path calls it.
    */
  def ngramOverlap(pairs: DataFrame, pairIdCol: String, candCol: String,
      refCol: String, maxN: Int): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    val base = pairs.select(col(pairIdCol).as("pair_id"),
      toks(col(candCol)).as("__ct"), toks(col(refCol)).as("__rt"))
    sideCounts(base, (n, side) =>
      wordGrams(when(side === 0, col("__ct")).otherwise(col("__rt")), n), maxN)
  }

  /** Shared explode→count→clip kernel for word and character grams.
    * `candG`/`refG` build the gram array for a given n from the base
    * frame's prepared columns.
    */
  private def sideCounts(base: DataFrame,
      gramsFor: (Column, Column) => Column, maxN: Int): DataFrame = {
    // parametric two-stage generator: a 2·maxN-row (n, side) spec explode
    // per pair, then ONE column-parameterized gram builder. The pair
    // frame (often itself a join) still evaluates once for both sides and
    // every n; versus 2·maxN transform legs concatenated into one giant
    // expression, the generated code here is a single small loop — the
    // inlined-concat variant's janino compile alone took seconds per
    // COLD plan and dominated the gate wall time.
    val specs = array((for { side <- 0 to 1; n <- 1 to maxN }
      yield struct(lit(n.toLong).as("n"), lit(side).as("side"))): _*)
    val s1 = base.withColumn("__spec", explode(specs))
    // explode_OUTER so a gram-free (pair, n, side) leg still emits one
    // null-gram row: every pair then reaches the aggregate and the wide
    // pivot carries EVERY pair with zero counts — no "keep empty pairs"
    // outer join downstream (which, having a provably-unique right key,
    // Catalyst ELIMINATES under a column-pruned action like count(),
    // silently skipping the whole gram pipeline). Null-gram rows guard
    // to zero in both counters — they exist for coverage, never for
    // matching (two empty sides must not "match" on the null gram).
    val both = s1.select(col("pair_id"), col("__spec.n").as("n"),
      col("__spec.side").as("__side"),
      explode_outer(gramsFor(col("__spec.n"), col("__spec.side"))).as("gram"))
    val perGram = both.groupBy(col("pair_id"), col("n"), col("gram"))
      .agg(sum(when(col("__side") === 0 && col("gram").isNotNull, 1L)
          .otherwise(0L)).as("__c"),
        sum(when(col("__side") === 1 && col("gram").isNotNull, 1L)
          .otherwise(0L)).as("__r"))
    perGram.groupBy(col("pair_id"), col("n"))
      .agg(sum(least(col("__c"), col("__r"))).as("matches"),
        sum(col("__c")).as("cand_total"),
        sum(col("__r")).as("ref_total"))
  }

  /** BLEU components per pair, integer-exact wide row:
    *
    *   - `cand_len`, `ref_len` — token counts (the brevity-penalty
    *     inputs; BP itself is `exp(1 - r/c)`, a float — compute it from
    *     these two columns when a float BLEU is wanted)
    *   - `matches_n`, `total_n` for n = 1..4 — clipped matches and
    *     candidate n-gram counts (modified precision numerator and
    *     denominator)
    *   - `precision_geo_permille` — the BLEU core
    *     (∏ pₙ)^(1/4) on the permille grid, pₙ = 1000·matchesₙ div
    *     totalₙ, the 4th root as isqrt∘isqrt (floors compound
    *     deterministically — the [[Curation.temperatureMixture]]
    *     quarter-power contract); NULL when the candidate is shorter
    *     than 4 tokens (total₄ = 0: BLEU is undefined, smoothing is a
    *     caller policy, not a default we bake in).
    *
    * Every pair appears exactly once, including zero-token candidates
    * (all components 0 / NULL geo).
    */
  def bleuComponents(pairs: DataFrame, pairIdCol: String, candCol: String,
      refCol: String): DataFrame =
    // row-local clip kernel (round-11 optimization; guide §2.4 "remove
    // shuffles outright"): the clip is per PAIR, so nothing about it
    // needs a (pair, n, gram) exchange — one bounded hash-multiset pass
    // per row (O(4·len) hash ops, linear, memory = one row's grams)
    // computes the identical integer components with ZERO shuffle. The
    // distributed form survives as [[bleuComponentsShuffled]], the
    // independent law witness in EvalMetricsSpec. Measured on the
    // ns_bleu gate: 1.70 s → the TER/ROUGE-L zero-shuffle class; the gram
    // exchange, its two-stage generator, and three downstream aggregates
    // all disappear.
    bleuFinish(withRowLocalBleuComponents(
      pairs.select(col(pairIdCol).as("pair_id"), col(candCol).as("__c"),
        col(refCol).as("__r")), "__c", "__r", maxTokens = None))

  /** The distributed (pair, n, gram)-shuffle form [[bleuComponents]]
    * used through round 10 — identical output (the EvalMetricsSpec law
    * pins kernel == shuffle column-for-column). Kept only as that test's
    * reference implementation; no code path selects it.
    */
  private[graft] def bleuComponentsShuffled(pairs: DataFrame,
      pairIdCol: String, candCol: String, refCol: String): DataFrame = {
    val comp = ngramOverlap(pairs, pairIdCol, candCol, refCol, maxN = 4)
    // the lengths ARE the n=1 totals (1-grams == tokens), so they ride
    // the same aggregate; comp carries EVERY pair (explode_outer
    // coverage), so no outer join is needed to keep zero-gram pairs —
    // and none must be: a unique-right-key outer join is eliminable
    // under column-pruned actions, which would let a count() skip the
    // gram pipeline entirely
    val aggs = (1 to 4).flatMap { n =>
      Seq(sum(when(col("n") === n, col("matches")).otherwise(0L)).as(s"matches_$n"),
        sum(when(col("n") === n, col("cand_total")).otherwise(0L)).as(s"total_$n"))
    } :+ sum(when(col("n") === 1, col("ref_total")).otherwise(0L)).as("__rt1")
    val wide = comp.groupBy(col("pair_id")).agg(aggs.head, aggs.tail: _*)
    // pₙ ≤ 1000 so the product ≤ 10¹² — comfortably inside the isqrt
    // envelope; 4th root of permille⁴ is permille. The composition is
    // STAGED through columns (the temperatureMixture discipline): each
    // isqrtExact level references its input ~5× (seed + two corrections),
    // so inlining isqrt(isqrt(prod)) copies the product subtree ~25× and
    // the per-row evaluation cost with it — staged, each level computes
    // once (a NULL product flows through to a NULL geo unchanged).
    bleuFinish(wide, Seq(col("total_1").as("cand_len"), col("__rt1").as("ref_len")))
  }

  /** Multi-reference BLEU components — sacrebleu's semantics (Post 2018,
    * matching Papineni et al. 2002 §2.2), the form every published
    * multi-reference BLEU is computed in: candidates arrive once per
    * pair (`cands`: pair, cand — one row per pair), references as
    * (pair, ref_ord, ref) rows (`refs`). Per (pair, n, gram) the
    * candidate count clips against the MAX count over the references —
    * a gram is creditable up to the most ANY single reference repeats
    * it — and the brevity-penalty reference length is the CLOSEST
    * reference length to the candidate's, ties to the SHORTER (the
    * `min(ref_lens, key = (|len − c|, len))` rule sacrebleu implements).
    *
    * Output schema == [[bleuComponents]], so [[corpusBleu]] pools either
    * frame unchanged; a SINGLE-reference input reproduces
    * [[bleuComponents]] column-for-column (the EvalMetricsSpec law) —
    * with one reference the max-clip is the plain clip, and the
    * reference-only grams the single-ref kernel also counts never
    * mattered (they clip a candidate count of 0). Pairs with no
    * reference row DROP (a candidate without references has no defined
    * BLEU); zero-token candidates keep their all-zero coverage row.
    *
    * Scale shape (round-11 optimization; guide §2.3 "shuffle keys and
    * metadata instead of payloads" + §2.4): ONE pair-keyed aggregate
    * assembles each pair's references into an array (reference counts
    * per pair are small by the metric's nature — published sets ship
    * 2–10), one pair-keyed equi-join attaches the candidate, and the
    * max-clip + closest-length pick run in ONE bounded row-local pass
    * ([[graft.functions.text.BleuMultiRefExpr]] — merge-max of the
    * per-reference gram multisets, candidate consumes by decrement,
    * min-by-(|Δlen|, len) for BP; all order-invariant, so collect_list
    * order never matters). The round-10 distributed form — gram-keyed
    * clip join + three aggregates + a separate BP-length reduce — paid
    * FOUR exchanges on amplified gram rows; this shape pays TWO on
    * text-sized rows. It survives as [[bleuComponentsMultiRefShuffled]],
    * the EvalMetricsSpec law witness. No window, no product, no driver
    * state.
    */
  def bleuComponentsMultiRef(cands: DataFrame, refs: DataFrame,
      pairIdCol: String, candCol: String, refOrdCol: String,
      refCol: String): DataFrame = {
    val refsByPair = refs
      .select(col(pairIdCol).as("pair_id"), toks(col(refCol)).as("__rt"))
      .groupBy(col("pair_id"))
      .agg(collect_list(col("__rt")).as("__refs"))
    // inner join: pairs with no reference row DROP (a candidate without
    // references has no defined BLEU) — the round-10 contract
    val staged = cands
      .select(col(pairIdCol).as("pair_id"), toks(col(candCol)).as("__ct"))
      .join(refsByPair, "pair_id")
    bleuFinish(withBleuKernel(staged,
      graft.functions.text.bleuMultiRefStruct(col("__ct"), col("__refs")), "__ct", "__refs"))
  }

  /** The round-10 distributed form of [[bleuComponentsMultiRef]] —
    * identical output (the EvalMetricsSpec law pins kernel == shuffle
    * column-for-column); kept only as that test's reference
    * implementation.
    */
  private[graft] def bleuComponentsMultiRefShuffled(cands: DataFrame,
      refs: DataFrame, pairIdCol: String, candCol: String,
      refOrdCol: String, refCol: String): DataFrame = {
    val specs = array((1 to 4).map(n => lit(n.toLong)): _*)
    val candGrams = cands
      .select(col(pairIdCol).as("pair_id"), toks(col(candCol)).as("__ct"))
      .withColumn("n", explode(specs))
      // explode_OUTER: gram-free (pair, n) legs keep a null-gram row so
      // every candidate pair reaches the wide pivot with zero counts
      // (the bleuComponents coverage contract; null grams never match)
      .select(col("pair_id"), col("n"),
        explode_outer(wordGrams(col("__ct"), col("n"))).as("gram"))
    val cc = candGrams.groupBy(col("pair_id"), col("n"), col("gram"))
      .agg(sum(when(col("gram").isNotNull, 1L).otherwise(0L)).as("__c"))
    val refToks = refs.select(col(pairIdCol).as("pair_id"),
      col(refOrdCol).as("__ord"), toks(col(refCol)).as("__rt"))
    val rmax = refToks
      .withColumn("n", explode(specs))
      .select(col("pair_id"), col("__ord"), col("n"),
        explode(wordGrams(col("__rt"), col("n"))).as("gram"))
      .groupBy(col("pair_id"), col("n"), col("gram"), col("__ord"))
      .agg(count(lit(1)).as("__r"))
      .groupBy(col("pair_id"), col("n"), col("gram"))
      .agg(max(col("__r")).as("__rmax"))
    // left join: candidate grams absent from every reference clip to 0;
    // reference-only grams need no row (they contribute min(0, r) = 0)
    val comp = cc
      .join(rmax, Seq("pair_id", "n", "gram"), "left")
      .groupBy(col("pair_id"), col("n"))
      .agg(sum(least(col("__c"), coalesce(col("__rmax"), lit(0L))))
          .as("matches"),
        sum(col("__c")).as("cand_total"))
    val aggs = (1 to 4).flatMap { n =>
      Seq(sum(when(col("n") === n, col("matches")).otherwise(0L)).as(s"matches_$n"),
        sum(when(col("n") === n, col("cand_total")).otherwise(0L)).as(s"total_$n"))
    }
    val wide = comp.groupBy(col("pair_id")).agg(aggs.head, aggs.tail: _*)
    // closest reference length, ties to the shorter: one pair-sized
    // min(struct) reduce. The candidate length is recomputed from the
    // SOURCE frame (size ∘ toks — equal to total_1 by construction:
    // 1-grams are tokens) rather than read off `wide`: joining `wide`
    // back to a frame derived from `wide` would evaluate the whole gram
    // pipeline TWICE (self-join, no materialization between) — measured
    // as a doubled Generate chain and ~1.8× gate wall
    val refLens = refToks.select(col("pair_id"),
      size(col("__rt")).cast("long").as("__rl"))
    val closest = cands
      .select(col(pairIdCol).as("pair_id"),
        size(toks(col(candCol))).cast("long").as("__cl"))
      .join(refLens, "pair_id")
      .groupBy(col("pair_id"))
      .agg(min(struct(abs(col("__rl") - col("__cl")).as("__d"),
        col("__rl").as("__l"))).as("__m"))
      .select(col("pair_id"), col("__m.__l").as("__ref_len"))
    bleuFinish(wide.join(closest, "pair_id"),
      Seq(col("total_1").as("cand_len"), col("__ref_len").as("ref_len")))
  }

  /** Multi-reference ROUGE-N — Lin 2004's multi-reference rule: score
    * the candidate against EACH reference with [[rougeN]]'s exact
    * arithmetic, then take the per-metric MAX over the references (the
    * jackknife-free form; each of P/R/F1 maxes independently — the
    * reported F1 is the best F1 any reference grants, not the F1 of an
    * argmax reference). References whose (pair, ref, n) row has no gram
    * on either side carry no score (the [[rougeN]] coverage rule);
    * `n_refs` counts the references that defined a score at that n, so
    * a thinning reference set is visible. A single-reference input
    * reproduces [[rougeN]]'s scores exactly (the spec law).
    *
    * Scale shape: [[rougeN]]'s one gram shuffle keyed by the COMPOSITE
    * (pair, ref_ord) struct — the reference fan-out multiplies rows, not
    * stages — plus one pair-sized max reduce.
    */
  def rougeNMultiRef(cands: DataFrame, refs: DataFrame, pairIdCol: String,
      candCol: String, refOrdCol: String, refCol: String,
      maxN: Int = 2): DataFrame =
    maxOverRefs(rougeN(multiRefPairs(cands, refs, pairIdCol, candCol,
      refOrdCol, refCol), "__pk", "__cand", "__ref", maxN),
      Seq("precision_permille", "recall_permille", "f1_permille"))

  /** Multi-reference chrF — the same max-over-references rule applied to
    * [[chrF]]'s per-reference scores (sacrebleu's multi-reference chrF
    * keeps the best-scoring reference per segment), including the β = 2
    * column. Single-reference input reproduces [[chrF]] exactly.
    */
  def chrFMultiRef(cands: DataFrame, refs: DataFrame, pairIdCol: String,
      candCol: String, refOrdCol: String, refCol: String, maxN: Int = 3,
      maxChars: Int = 2000): DataFrame =
    maxOverRefs(chrF(multiRefPairs(cands, refs, pairIdCol, candCol,
      refOrdCol, refCol), "__pk", "__cand", "__ref", maxN, maxChars),
      Seq("precision_permille", "recall_permille", "f1_permille",
        "f2_permille"))

  /** Multi-reference ROUGE-L — the same Lin-2004 max-over-references
    * rule applied to [[rougeL]]'s per-reference P/R/F1 (each maxes
    * independently, the [[rougeNMultiRef]] convention). [[rougeL]]
    * defines a row for EVERY (pair, ref) — empty sides score NULL, not
    * zero — so `n_refs` here is the full reference count and all-NULL
    * scores stay NULL. Single-reference input reproduces [[rougeL]]'s
    * scores exactly (the spec law). Scale shape: [[rougeL]]'s
    * zero-shuffle bounded DP per (pair, ref) row + one pair-sized max
    * reduce.
    */
  def rougeLMultiRef(cands: DataFrame, refs: DataFrame, pairIdCol: String,
      candCol: String, refOrdCol: String, refCol: String,
      maxTokens: Int = 256): DataFrame = {
    val perRef = rougeL(multiRefPairs(cands, refs, pairIdCol, candCol,
      refOrdCol, refCol), "__pk", "__cand", "__ref", maxTokens)
    val aggs = count(lit(1)).as("n_refs") +:
      Seq("precision_permille", "recall_permille", "f1_permille")
        .map(c => max(col(c)).as(c))
    perRef.groupBy(col("pair_id").getField("pair_id").as("pair_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Multi-reference TER — Snover et al. 2006's rule: the edit count is
    * the MINIMUM over references (edits to the closest reference) and
    * the rate denominator is the AVERAGE reference length (integer
    * mean, truncated — both engines' convention). ter_permille = NULL
    * when the average reference length is 0 (all references empty —
    * undefined, not perfect). Single-reference input reproduces
    * [[terComponents]]'s edit_ops and ter_permille exactly (avg of one
    * length IS that length — the spec law). Scale shape:
    * [[terComponents]]'s zero-shuffle bounded DP per (pair, ref) row +
    * one pair-sized min/avg reduce.
    *
    * Output: (pair_id, n_refs, cand_len, avg_ref_len, edit_ops,
    * ter_permille).
    */
  def terMultiRef(cands: DataFrame, refs: DataFrame, pairIdCol: String,
      candCol: String, refOrdCol: String, refCol: String,
      maxTokens: Int = 40): DataFrame = {
    val perRef = terComponents(multiRefPairs(cands, refs, pairIdCol,
      candCol, refOrdCol, refCol), "__pk", "__cand", "__ref", maxTokens)
    perRef.groupBy(col("pair_id").getField("pair_id").as("pair_id"))
      .agg(count(lit(1)).as("n_refs"),
        // cand_len is identical across a pair's rows (same candidate,
        // same truncation) — max is just the carrier
        max(col("cand_len")).as("cand_len"),
        min(col("edit_ops")).as("edit_ops"),
        sum(col("ref_len")).as("__rl"))
      .withColumn("avg_ref_len",
        call_function("div", col("__rl"), col("n_refs")))
      .withColumn("ter_permille", scaled(col("edit_ops"), col("avg_ref_len"), 1000L))
      .select(col("pair_id"), col("n_refs"), col("cand_len"),
        col("avg_ref_len"), col("edit_ops"), col("ter_permille"))
  }

  /** The (pair, ref_ord)-keyed pair frame the per-reference metrics run
    * over: candidate joined to each of its references, keyed by ONE
    * composite struct column (struct columns group and shuffle like any
    * key — no synthetic id arithmetic, no collision risk).
    */
  private def multiRefPairs(cands: DataFrame, refs: DataFrame,
      pairIdCol: String, candCol: String, refOrdCol: String,
      refCol: String): DataFrame =
    cands.select(col(pairIdCol).as("__p"), col(candCol).as("__cand"))
      .join(refs.select(col(pairIdCol).as("__p"),
        col(refOrdCol).as("__ord"), col(refCol).as("__ref")), "__p")
      .select(struct(col("__p").as("pair_id"), col("__ord").as("ref_ord"))
        .as("__pk"), col("__cand"), col("__ref"))

  /** Per-metric max over the reference axis of a (struct pair_id, n,
    * scores...) frame — NULL scores are ignored by max (all-NULL → NULL,
    * undefined stays undefined).
    */
  private def maxOverRefs(perRef: DataFrame,
      scoreCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_refs") +:
      scoreCols.map(c => max(col(c)).as(c))
    perRef.groupBy(col("pair_id").getField("pair_id").as("pair_id"),
      col("n"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The shared BLEU geo-mean staging over a `matches_n`/`total_n` wide
    * frame: permille precisions, their product, and the staged
    * isqrt∘isqrt 4th root as `__geo` (NULL when any total is 0). Staged
    * through columns because each isqrtExact level references its input
    * ~5× — inlining the composition copies the product subtree ~25×.
    */
  private def stagedGeo(wide: DataFrame): DataFrame = {
    def p(n: Int): Column = scaled(col(s"matches_$n"), col(s"total_$n"), 1000L)
    wide
      .withColumn("__prod",
        when((1 to 4).map(n => col(s"total_$n") > 0).reduce(_ && _),
          p(1) * p(2) * p(3) * p(4)))
      .withColumn("__sq1", Curation.isqrtExact(col("__prod")))
      .withColumn("__geo", Curation.isqrtExact(col("__sq1")))
  }

  private val bleuFields: Seq[String] = Seq("cand_len", "ref_len") ++
    (1 to 4).flatMap(n => Seq(s"matches_$n", s"total_$n"))

  /** The BLEU finish every per-pair form shares: [[stagedGeo]], then the
    * 11 output columns — pair_id, `lens` (cand_len, ref_len), matches_n /
    * total_n, precision_geo_permille.
    */
  private def bleuFinish(wide: DataFrame,
      lens: Seq[Column] = Seq(col("cand_len"), col("ref_len"))): DataFrame =
    stagedGeo(wide).select(col("pair_id") +: lens ++:
      (1 to 4).flatMap(n => Seq(col(s"matches_$n"), col(s"total_$n"))) :+
      col("__geo").as("precision_geo_permille"): _*)

  /** Appends the BLEU component columns of the kernel struct `kernel` to
    * `df` and drops `temps`. The struct stages through ONE column
    * (non-cheap alias referenced 10× — cost-aware CollapseProject keeps
    * it a separate Project, so the kernel evaluates once per row, not
    * once per extracted field).
    */
  private def withBleuKernel(df: DataFrame, kernel: Column, temps: String*): DataFrame =
    bleuFields.foldLeft(df.withColumn("__bc", kernel))((d, f) => d.withColumn(f, col(s"__bc.$f")))
      .drop(temps :+ "__bc": _*)

  /** [[bleuComponents]] with both sides truncated to their first
    * `maxTokens` tokens before the clip — the TER / ROUGE-L bounded-kernel
    * discipline, and the streaming corpus-BLEU twin's per-row contract.
    * Same columns as [[bleuComponents]], and the same values wherever no
    * side exceeds `maxTokens` (the law EvalMetricsSpec asserts);
    * truncation is part of the metric's contract here, so compare like
    * with like. Both run the one row-local kernel
    * ([[withRowLocalBleuComponents]]); bound `maxTokens` when single rows
    * may be pathologically long.
    */
  def bleuComponentsRowLocal(pairs: DataFrame, pairIdCol: String,
      candCol: String, refCol: String, maxTokens: Int = 64): DataFrame = {
    require(maxTokens >= 4 && maxTokens <= 256,
      "maxTokens must be in [4, 256] (the row-local clip is maxTokens^2)")
    bleuFinish(withRowLocalBleuComponents(
      pairs.select(col(pairIdCol).as("pair_id"), col(candCol).as("__c"),
        col(refCol).as("__r")), "__c", "__r", Some(maxTokens)))
  }

  /** Appends the row-local BLEU component columns (cand_len, ref_len,
    * matches_n / total_n for n = 1..4) to `df`, preserving its other
    * columns — the clip [[bleuComponents]], [[bleuComponentsRowLocal]]
    * and the streaming corpus monitor share; `maxTokens` truncates both
    * sides first. One pass per row through
    * [[graft.functions.text.BleuMultiRefExpr]] over the one reference
    * (hash-multiset clip): a first draft as a chain of HOF folds
    * (array_distinct + two size∘filter scans per distinct gram per n)
    * measured 4.9 s over 1M short rows — ~20 CodegenFallback HOF nodes
    * per row; the single bounded expression is ~5× cheaper and is the
    * same custom-kernel-over-HOF-chain call as TokenLcsExpr.
    */
  private[graft] def withRowLocalBleuComponents(df: DataFrame,
      candCol: String, refCol: String, maxTokens: Option[Int]): DataFrame = {
    def side(c: String): Column = maxTokens.fold(toks(col(c)))(slice(toks(col(c)), 1, _))
    withBleuKernel(df.withColumn("__ct", side(candCol)).withColumn("__rt", side(refCol)),
      graft.functions.text.bleuComponentsStruct(col("__ct"), col("__rt")), "__ct", "__rt")
  }

  /** [[corpusBleu]] generalized to group keys (empty = the global one-row
    * reduce; the streaming twin passes its window column) — one shared
    * aggregate list + the staged isqrt tail, so the batch and windowed
    * corpus numbers cannot drift. Output: the keys, then corpusBleu's
    * columns.
    */
  private[graft] def corpusBleuOver(components: DataFrame,
      keys: Seq[Column]): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("n_pairs"),
      coalesce(sum(col("cand_len")), lit(0L)).as("cand_tokens"),
      coalesce(sum(col("ref_len")), lit(0L)).as("ref_tokens")) ++
      (1 to 4).flatMap(n => Seq(
        coalesce(sum(col(s"matches_$n")), lit(0L)).as(s"matches_$n"),
        coalesce(sum(col(s"total_$n")), lit(0L)).as(s"total_$n")))
    stagedGeo(components.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
      .withColumnRenamed("__geo", "precision_geo_permille")
      .drop("__prod", "__sq1")
  }

  /** Corpus-level BLEU over a [[bleuComponents]] output frame — the
    * number papers report: components SUM across pairs first, the
    * geometric mean applies to the pooled modified precisions (Papineni
    * et al. 2002's micro-average — NOT the mean of per-pair BLEUs, which
    * over-weights short candidates and zeroes on any 4-gram-free pair).
    * One partial-aggregated one-row reduce; same staged floor-isqrt
    * grid, so the corpus number replays wherever the per-pair ones do.
    *
    * Output (one row): n_pairs, cand_tokens, ref_tokens (corpus
    * brevity-penalty inputs: BP = exp(1 − ref/cand) when cand < ref),
    * matches_n / total_n for n = 1..4, precision_geo_permille (NULL when
    * the pooled total for any n is 0 — an all-too-short corpus has no
    * defined BLEU).
    */
  def corpusBleu(components: DataFrame): DataFrame =
    corpusBleuOver(components, Seq.empty)

  /** Paired bootstrap significance test for corpus BLEU (Koehn 2004 —
    * the standard "is system A really better, or is this eval-set
    * noise?" machinery behind every "+0.8 BLEU (p < 0.05)" claim): given
    * the per-pair [[bleuComponents]] of two systems scored against the
    * SAME references, resample the pair set `replicates` times and count
    * how often each system's pooled corpus geo wins. PAIRED: one
    * deterministic Poisson(1) weight per (pair, replicate) — the
    * [[Profile.bootstrapMeans]] portable-hash convention, one cut table,
    * engine-replayable — applies to BOTH systems' components, so the
    * resample never compares different pair sets. Replicates where
    * either system's pooled geo is undefined (a weighted total hit 0)
    * are counted `undefined` and excluded from the verdict rather than
    * silently scored.
    *
    * Scale shape: one pair-keyed equi-join of the two component frames,
    * a constant ×replicates fan-out (B ≤ 200 enforced), ONE
    * partial-aggregated groupBy(replicate) onto B rows, then row-local
    * geo arithmetic and a one-row reduce — no window, no second pass
    * over pairs. Weighted sums stay inside long: Σ w·matches ≤
    * 6 · Σ tokens (w ≤ 6 by the cut table).
    *
    * Output (one row): n_replicates, defined, a_wins, b_wins, ties,
    * undefined, a_win_permille = 1000·a_wins div defined (NULL when no
    * replicate is defined).
    */
  def pairedBootstrapBleu(componentsA: DataFrame, componentsB: DataFrame,
      replicates: Int = 64, seed: String = "graft-boot"): DataFrame =
    pairedBootstrapBleuReplicates(componentsA, componentsB, replicates, seed)
      .agg(count(lit(1)).as("n_replicates"),
        sum(when(col("geo_a").isNotNull && col("geo_b").isNotNull, 1L)
          .otherwise(0L)).as("defined"),
        sum(when(col("geo_a") > col("geo_b"), 1L).otherwise(0L)).as("a_wins"),
        sum(when(col("geo_b") > col("geo_a"), 1L).otherwise(0L)).as("b_wins"),
        sum(when(col("geo_a") === col("geo_b"), 1L).otherwise(0L)).as("ties"),
        sum(when(col("geo_a").isNull || col("geo_b").isNull, 1L)
          .otherwise(0L)).as("undefined"))
      .withColumn("a_win_permille", scaled(col("a_wins"), col("defined"), 1000L))

  /** The per-replicate frame [[pairedBootstrapBleu]] reduces to its
    * verdict — EXPOSED (round-10 verdict item 2) because the B-row
    * resample distribution carries more than the win counts: the 95%
    * confidence interval of the corpus-metric delta sacrebleu prints
    * next to the p-value ([[bootstrapDeltaCi]]), the full histogram for
    * plotting, and any custom operating point. The verdict operator is
    * re-derived FROM this frame (one construction, no way to drift).
    *
    * Output (`replicates` rows, B ≤ 200 — metadata-sized): (replicate,
    * geo_a, geo_b, delta = geo_a − geo_b on the permille grid, NULL when
    * either side's pooled geo is undefined for that resample).
    */
  def pairedBootstrapBleuReplicates(componentsA: DataFrame,
      componentsB: DataFrame, replicates: Int = 64,
      seed: String = "graft-boot"): DataFrame = {
    require(replicates >= 2 && replicates <= 200,
      "replicates must be in [2, 200]")
    def side(df: DataFrame, p: String): DataFrame =
      df.select(col("pair_id") +: (1 to 4).flatMap(n => Seq(
        col(s"matches_$n").as(s"${p}m$n"), col(s"total_$n").as(s"${p}t$n"))): _*)
    val joined = side(componentsA, "a").join(side(componentsB, "b"), "pair_id")
    val u = Curation.portableHash31(
      concat_ws("|", col("pair_id"), col("replicate")), seed)
    val pooled = for { p <- Seq("a", "b"); n <- 1 to 4; c <- Seq("m", "t") }
      yield sum(col("__w") * col(s"$p$c$n")).as(s"$p$c$n")
    val perRep = joined
      .select(col("*"),
        explode(sequence(lit(1L), lit(replicates.toLong))).as("replicate"))
      .withColumn("__w", Profile.poissonWeight31(u))
      .groupBy(col("replicate"))
      .agg(pooled.head, pooled.tail: _*)
    def geo(rep: DataFrame, p: String): DataFrame = {
      def prec(n: Int): Column = scaled(col(s"${p}m$n"), col(s"${p}t$n"), 1000L)
      rep
        .withColumn(s"__prod$p",
          when((1 to 4).map(n => col(s"${p}t$n") > 0).reduce(_ && _),
            prec(1) * prec(2) * prec(3) * prec(4)))
        .withColumn(s"__sq$p", Curation.isqrtExact(col(s"__prod$p")))
        .withColumn(s"__geo$p", Curation.isqrtExact(col(s"__sq$p")))
    }
    geo(geo(perRep, "a"), "b")
      .select(col("replicate"),
        col("__geoa").as("geo_a"), col("__geob").as("geo_b"),
        when(col("__geoa").isNotNull && col("__geob").isNotNull,
          col("__geoa") - col("__geob")).as("delta"))
  }

  /** Order-statistics confidence interval of the bootstrap delta —
    * the number sacrebleu's `--confidence` prints next to the win-count
    * p-value (Koehn 2004 §3: sort the B resampled deltas, drop the top
    * and bottom `dropPermille` share — 25‰ each side = the 95% interval
    * — and read the bounds). Input is a replicates frame from
    * [[pairedBootstrapBleuReplicates]] (`delta`, permille grid) or
    * [[pairedBootstrapMetricReplicates]] (`delta_milli`); the delta
    * column must be integer-valued (both producers' are). NULL deltas
    * (undefined resamples) drop before ranking — `defined` makes the
    * thinning visible.
    *
    * Scale shape: ONE aggregate over a B ≤ 200-row frame; the
    * collect_list inside it is bounded by the producers' replicate cap,
    * so the sort is metadata-priced by construction — this is the one
    * place a collected list is the right tool (an order statistic over
    * ≤200 integers does not deserve a shuffle).
    *
    * Output (one row): n_replicates, defined, drop_each_side,
    * delta_lo, delta_hi (the CI bounds), delta_median (lower median).
    */
  def bootstrapDeltaCi(replicateFrame: DataFrame, deltaCol: String,
      dropPermille: Long = 25L): DataFrame = {
    require(dropPermille >= 0 && dropPermille < 500,
      "dropPermille must be in [0, 500) (each side)")
    replicateFrame
      .agg(count(lit(1)).as("n_replicates"),
        sort_array(collect_list(col(deltaCol))).as("__ds"))
      .withColumn("defined", size(col("__ds")).cast("long"))
      // d < defined/2 for dropPermille < 500, so lo/hi never cross
      .withColumn("drop_each_side",
        call_function("div", col("defined") * dropPermille, lit(1000L)))
      .select(col("n_replicates"), col("defined"), col("drop_each_side"),
        when(col("defined") > 0,
          element_at(col("__ds"), (col("drop_each_side") + 1L).cast("int")))
          .as("delta_lo"),
        when(col("defined") > 0,
          element_at(col("__ds"),
            (col("defined") - col("drop_each_side")).cast("int")))
          .as("delta_hi"),
        when(col("defined") > 0,
          element_at(col("__ds"),
            call_function("div", col("defined") + 1L, lit(2L)).cast("int")))
          .as("delta_median"))
  }

  /** Metric-agnostic paired bootstrap (the [[pairedBootstrapBleu]]
    * machinery for ANY integer per-pair metric — ROUGE-L F1, chrF F2,
    * TER, BERTScore means: "is A's ROUGE really better?"): given two
    * frames of (pair_id, metric) scored on the same items, resample
    * `replicates` times with the SAME deterministic Poisson weight per
    * (pair, replicate) on both sides and count replicate wins of the
    * weighted mean. The paired weights make the comparison
    * DIVISION-FREE: both systems share Σw, so mean_A > mean_B ⇔
    * Σw·mA > Σw·mB — exact integers, no grid, no rounding tie-break.
    * Pairs where EITHER side's metric is NULL drop before resampling
    * (a paired test needs both defined; `n_pairs_used` makes the drop
    * visible). Replicates that draw nothing (Σw = 0) count `undefined`.
    * For TER-like metrics where LOWER is better, flip the verdict
    * columns at the call site.
    *
    * Scale shape: [[pairedBootstrapBleu]]'s — one pair-keyed equi-join,
    * a constant ×B fan-out onto ONE partial-aggregated B-row reduce,
    * then a one-row verdict. Metric values must be INTEGRAL and satisfy
    * |m| ≤ 10¹² (the [[Profile.bootstrapMeans]] envelope); a fractional
    * metric FAILS LOUDLY rather than silently truncating (put float
    * metrics on a micro/permille grid first — every metric in this file
    * already is). Σw·m accumulates in DECIMAL(38,0) so any pair count
    * stays exact.
    *
    * Output (one row): n_pairs_used, n_replicates, defined, a_wins,
    * b_wins, ties, undefined, a_win_permille.
    */
  def pairedBootstrapMetric(a: DataFrame, b: DataFrame, pairIdCol: String,
      metricCol: String, replicates: Int = 64,
      seed: String = "graft-boot"): DataFrame =
    pairedBootstrapMetricReplicates(a, b, pairIdCol, metricCol, replicates,
      seed)
      .agg(
        coalesce(max(col("n_pairs")), lit(0L)).as("n_pairs_used"),
        count(lit(1)).as("n_replicates"),
        sum(when(col("w_sum") > 0, 1L).otherwise(0L)).as("defined"),
        sum(when(col("w_sum") > 0 && col("sum_a") > col("sum_b"), 1L)
          .otherwise(0L)).as("a_wins"),
        sum(when(col("w_sum") > 0 && col("sum_b") > col("sum_a"), 1L)
          .otherwise(0L)).as("b_wins"),
        sum(when(col("w_sum") > 0 && col("sum_a") === col("sum_b"), 1L)
          .otherwise(0L)).as("ties"),
        sum(when(col("w_sum") === 0, 1L).otherwise(0L)).as("undefined"))
      .withColumn("a_win_permille", scaled(col("a_wins"), col("defined"), 1000L))

  /** The per-replicate frame [[pairedBootstrapMetric]] reduces to its
    * verdict — exposed for the same reasons as
    * [[pairedBootstrapBleuReplicates]] (the delta CI, the histogram),
    * and the verdict operator is re-derived from it. `delta_milli` puts
    * the weighted-mean difference on a thousandths-of-a-grid-unit scale:
    * (Σw·mA − Σw·mB)·1000 div Σw — truncated toward zero on both
    * engines, exact in DECIMAL(38,0) up to the ×1000 long quotient
    * (permille/micro-grid metrics keep Σw·Δ·1000 inside long through
    * ~10¹² weighted pairs; milli, not micro, is deliberate — another
    * ×1000 would cost three orders of magnitude of that headroom for
    * sub-grid precision no metric here carries).
    *
    * Output (`replicates` rows): (replicate, n_pairs, w_sum, sum_a,
    * sum_b, delta_milli — NULL when the resample drew nothing).
    */
  def pairedBootstrapMetricReplicates(a: DataFrame, b: DataFrame,
      pairIdCol: String, metricCol: String, replicates: Int = 64,
      seed: String = "graft-boot"): DataFrame = {
    require(replicates >= 2 && replicates <= 200,
      "replicates must be in [2, 200]")
    val joined = integralSide(a, pairIdCol, metricCol, "a")
      .join(integralSide(b, pairIdCol, metricCol, "b"), "pair_id")
      .where(col("__a").isNotNull && col("__b").isNotNull)
    val u = Curation.portableHash31(
      concat_ws("|", col("pair_id"), col("replicate")), seed)
    val perRep = joined
      .select(col("*"),
        explode(sequence(lit(1L), lit(replicates.toLong))).as("replicate"))
      .withColumn("__w", Profile.poissonWeight31(u))
      .groupBy(col("replicate"))
      .agg(sum(col("__w")).as("__n"),
        sum((col("__w") * col("__a")).cast("decimal(38,0)")).as("__sa"),
        sum((col("__w") * col("__b")).cast("decimal(38,0)")).as("__sb"),
        // the joined frame is identical for every replicate, so any
        // replicate's pair count IS n_pairs_used — carried through the
        // same aggregate rather than a second job
        count(lit(1)).as("__pairs"))
    perRep.select(col("replicate"), col("__pairs").as("n_pairs"),
      col("__n").as("w_sum"), col("__sa").as("sum_a"),
      col("__sb").as("sum_b"),
      scaled(col("__sa") - col("__sb"), col("__n"), 1000L).as("delta_milli"))
  }

  /** The shared paired-test metric projection: NULL metrics pass through
    * as NULL (they drop at the join, visible via n_pairs_used); values
    * OUTSIDE the [-1e12, 1e12] envelope OR NON-INTEGRAL fail LOUDLY
    * instead of silently joining the dropped set / truncating toward
    * zero — the bootstrapMeans error contract. The integrality probe
    * compares on the double grid, exact below the envelope (< 2^53).
    *
    * Ends in ONE pair-keyed max aggregate — load-bearing twice over:
    * (1) a paired test needs exactly one score per pair, and `max`
    * collapses accidental duplicate pair ids DETERMINISTICALLY instead
    * of letting the system join silently multiply them; (2) the
    * aggregate is a constraint/inlining barrier. Without it, when the
    * metric column is a non-cheap projection chain (ROUGE-L's LCS DP),
    * join-constraint inference substitutes the aliased chain into
    * inferred predicates MULTIPLICATIVELY — measured 40 copies of the
    * DP per side in the join condition (the whole gate ~8.3 s); behind
    * the aggregate the metric is a concrete column and the DP runs once
    * per row (~2.6 s). The BLEU form never hit this because
    * bleuComponents already ends in an aggregate.
    */
  private def integralSide(df: DataFrame, pairIdCol: String,
      metricCol: String, p: String): DataFrame =
    df.select(
      col(pairIdCol).as("pair_id"),
      integralMetric(col(metricCol), concat(
        lit("paired metric test: metric for pair "),
        col(pairIdCol).cast("string"))).as(s"__$p"))
      .groupBy(col("pair_id"))
      .agg(max(col(s"__$p")).as(s"__$p"))

  /** The integral-metric guard of [[integralSide]] and the streaming
    * paired-delta twin: `m` as a long when its value is an integer inside
    * [-1e12, 1e12], NULL when it is NULL, and otherwise a raised error
    * led by `what` (a fractional metric must never truncate silently).
    */
  private[graft] def integralMetric(m: Column, what: Column): Column = {
    val md = m.cast("double")
    when(m.isNull, lit(null).cast("long"))
      .when(md === floor(md) && abs(md) <= 1.0e12, m.cast("long"))
      .otherwise(raise_error(concat(what,
        lit(" must be integral inside [-1e12, 1e12] (grid fractional " +
          "metrics first); got "),
        m.cast("string"))))
  }

  /** Approximate-randomization significance test (Riezler & Maxwell
    * 2005 — the sign-flip permutation test, the other standard MT/NLP
    * significance machinery next to [[pairedBootstrapMetric]]; it tests
    * the sharp null "the two systems are exchangeable on each item"
    * directly, which small eval sets prefer over resampling variance):
    * given (pair, metric) for two systems scored on the SAME items, the
    * observed statistic is S = Σ(mA − mB); each replicate flips every
    * pair's difference sign with a deterministic bit from
    * [[Curation.portableHash31]] (the frozen-draw convention every
    * bootstrap here shares — no RNG, identical under retries and
    * cross-engine replay), and the p-value is the add-one estimator
    * (count(|S_r| ≥ |S|) + 1)/(R + 1) the paper prescribes.
    *
    * Division-free and integer-exact: every statistic is a signed sum
    * of integer deltas (the shared [[integralSide]] fail-loud
    * contract); the one division is the final permille.
    *
    * Scale shape: one pair-keyed equi-join, a constant ×R fan-out onto
    * ONE partial-aggregated R-row reduce, then a one-row verdict —
    * exactly the bootstrap's shape (Σ|d| must stay inside long; with
    * permille-grid metrics that is ~10¹⁵ pairs of headroom).
    *
    * Output (one row): n_pairs_used, n_replicates, observed_delta,
    * ge_count, p_permille = (ge_count+1)·1000 div (n_replicates+1).
    */
  def approxRandomization(a: DataFrame, b: DataFrame, pairIdCol: String,
      metricCol: String, replicates: Int = 64,
      seed: String = "graft-ar"): DataFrame = {
    require(replicates >= 2 && replicates <= 200,
      "replicates must be in [2, 200]")
    val joined = integralSide(a, pairIdCol, metricCol, "a")
      .join(integralSide(b, pairIdCol, metricCol, "b"), "pair_id")
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .withColumn("__d", col("__a") - col("__b"))
    val u = Curation.portableHash31(
      concat_ws("|", col("pair_id"), col("replicate")), seed)
    val perRep = joined
      .select(col("*"),
        explode(sequence(lit(1L), lit(replicates.toLong))).as("replicate"))
      .withColumn("__flip", pmod(u, lit(2L)))
      .groupBy(col("replicate"))
      .agg(sum(when(col("__flip") === 1L, -col("__d"))
          .otherwise(col("__d"))).as("__s"),
        // Σd is replicate-invariant (the join is identical per
        // replicate) — carried through the same aggregate, the
        // n_pairs_used trick
        sum(col("__d")).as("__obs"),
        count(lit(1)).as("__pairs"))
    perRep.agg(
      coalesce(max(col("__pairs")), lit(0L)).as("n_pairs_used"),
      count(lit(1)).as("n_replicates"),
      coalesce(max(col("__obs")), lit(0L)).as("observed_delta"),
      sum(when(abs(col("__s")) >= abs(col("__obs")), 1L).otherwise(0L))
        .as("ge_count"))
      .withColumn("p_permille",
        call_function("div", (col("ge_count") + 1L) * 1000L,
          col("n_replicates") + 1L))
  }

  /** McNemar's test for paired BINARY outcomes — the significance test
    * the pass/fail eval family needs next to the continuous-metric
    * bootstrap/randomization pair ("A solves 12 problems B misses, B
    * solves 4 A misses — is A really better?"): only the DISCORDANT
    * problems carry signal, and the χ² statistic is (b−c)²/(b+c) with
    * b/c the two discordant counts, reported on the milli grid
    * (compare chi2_milli to 3841 — χ² with 1 df at α = 0.05, ×1000 —
    * for the standard verdict) alongside Edwards' continuity-corrected
    * form (|b−c|−1)²/(b+c). Integer-exact throughout; both statistics
    * are NULL when there are no discordant pairs (the test is
    * undefined — identical systems have nothing to rank).
    *
    * NULL outcomes drop per side BEFORE pairing (an abstention is not
    * a fail), pairs missing either side drop at the join —
    * `n_pairs_used` makes both visible; duplicate pair ids collapse by
    * OR (max over booleans, deterministic — the [[integralSide]]
    * convention's binary sibling).
    *
    * Scale shape: two pair-keyed partial-agg dedups + one equi-join +
    * ONE one-row reduce — no window, no fan-out at all (McNemar needs
    * no resampling; the exact counts ARE the test).
    *
    * Output (one row): n_pairs_used, both_pass, both_fail, a_only,
    * b_only, chi2_milli, chi2_corrected_milli.
    */
  def mcnemarTest(a: DataFrame, b: DataFrame, pairIdCol: String,
      passedCol: String): DataFrame = {
    def side(df: DataFrame, p: String): DataFrame = df
      .select(col(pairIdCol).as("pair_id"),
        col(passedCol).cast("boolean").as(s"__$p"))
      .where(col(s"__$p").isNotNull)
      .groupBy(col("pair_id"))
      .agg(max(col(s"__$p")).as(s"__$p"))
    val counts = side(a, "a").join(side(b, "b"), "pair_id")
      .agg(count(lit(1)).as("n_pairs_used"),
        sum(when(col("__a") && col("__b"), 1L).otherwise(0L)).as("both_pass"),
        sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L)).as("both_fail"),
        sum(when(col("__a") && !col("__b"), 1L).otherwise(0L)).as("a_only"),
        sum(when(!col("__a") && col("__b"), 1L).otherwise(0L)).as("b_only"))
    val disc = col("a_only") + col("b_only")
    counts
      .withColumn("chi2_milli",
        scaled((col("a_only") - col("b_only")) * (col("a_only") - col("b_only")), disc, 1000L))
      .withColumn("chi2_corrected_milli", {
        val d = greatest(abs(col("a_only") - col("b_only")) - 1L, lit(0L))
        scaled(d * d, disc, 1000L)
      })
  }

  /** ROUGE-L per pair (Lin 2004's LCS variant — the most-reported ROUGE):
    * longest common token SUBSEQUENCE between candidate and reference,
    * with permille P/R/F1 on the same integer grid as [[rougeN]]
    * (R = 1000·lcs div ref_len — the headline number; F1 harmonic on the
    * permille grid). LCS rewards in-order coverage without requiring the
    * contiguity n-grams do, which is why summarization papers lead with
    * it.
    *
    * Scale shape: zero shuffle — one bounded O(n·m) DP expression per
    * row ([[graft.functions.text.TokenLcsExpr]]); `maxTokens` truncates
    * BEFORE the DP (the chrF maxChars discipline), bounding the
    * per-row cost at maxTokens². NULL P when the candidate is empty,
    * NULL R when the reference is empty (undefined, not perfect).
    *
    * Output: (pair_id, cand_len, ref_len, lcs_len, precision_permille,
    * recall_permille, f1_permille).
    */
  def rougeL(pairs: DataFrame, pairIdCol: String, candCol: String,
      refCol: String, maxTokens: Int = 256): DataFrame = {
    require(maxTokens >= 1 && maxTokens <= 4096,
      "maxTokens must be in [1, 4096] (the DP is maxTokens^2 per pair)")
    val base = pairs.select(col(pairIdCol).as("pair_id"),
      slice(toks(col(candCol)), 1, maxTokens).as("__ct"),
      slice(toks(col(refCol)), 1, maxTokens).as("__rt"))
    withPrf(base
      .select(col("pair_id"),
        size(col("__ct")).cast("long").as("cand_len"),
        size(col("__rt")).cast("long").as("ref_len"),
        graft.functions.text.tokenLcs(col("__ct"), col("__rt")).as("lcs_len")),
      "lcs_len", "cand_len", "ref_len")
  }

  /** pass@k per problem (Chen et al. 2021's unbiased estimator — THE
    * code-eval aggregation): given n samples per problem of which c
    * passed, pass@k = 1 − C(n−c, k)/C(n, k). Computed on the MICRO grid
    * as a k-step integer fold, m ← ⌊m·(n−c−i)/(n−i)⌋ from m = 10⁶
    * (floors compound deterministically in the same order on both
    * engines — the [[Curation.temperatureMixture]] discipline; the
    * result sits within k µ-units of the exact rational, and m can
    * never overflow because every factor ratio ≤ 1). A zero factor
    * (c > n−k: every size-k draw contains a pass) pins m to 0 and the
    * estimate to exactly 10⁶. k > n is undefined → NULL, not clamped.
    *
    * Scale shape: ONE partial-aggregated groupBy(problem) + a ≤|ks|-row
    * explode + the bounded per-row fold — no window, no second pass
    * over samples.
    *
    * Output: (problem, n_samples, n_passed, k, pass_at_k_micro), one
    * row per (problem, k in `ks`).
    */
  def passAtK(df: DataFrame, problemCol: String, passedCol: String,
      ks: Seq[Int]): DataFrame =
    passAtKOver(df, Seq(col(problemCol).as("problem")), passedCol, ks)

  /** [[passAtK]] generalized to group keys (the streaming twin adds its
    * window column) — the `ks` guard, the (n, c) aggregate, the k explode
    * and the compounded-floor fold, once. Output: the keys, then
    * (n_samples, n_passed, k, pass_at_k_micro).
    */
  private[graft] def passAtKOver(df: DataFrame, keys: Seq[Column],
      passedCol: String, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 64),
      "ks must be non-empty with each k in [1, 64]")
    require(ks == ks.distinct, "ks must be distinct")
    df.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_samples"),
        sum(when(col(passedCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_passed"))
      .withColumn("k", explode(array(ks.map(k => lit(k.toLong)): _*)))
      .withColumn("pass_at_k_micro", lit(1000000L) -
        when(col("k") <= col("n_samples"),
          aggregate(sequence(lit(0L), col("k") - 1L), lit(1000000L),
            (acc, i) => call_function("div",
              acc * (col("n_samples") - col("n_passed") - i),
              col("n_samples") - i))))
  }

  /** G-Pass@k_τ per problem (Liu et al. 2024's stable-reasoning
    * generalization of pass@k — the number an AGENTIC pipeline actually
    * gates on: "would at least ⌈τ·k⌉ of k attempts succeed?"; τ = 1/k
    * recovers pass@k, τ = 1 recovers pass^k, and the interesting
    * operating points sit between): the exact hypergeometric tail on
    * the µ grid via [[graft.functions.text.GPassAtKExpr]] — arbitrary-
    * precision rational, floored once, so unlike the pass@k/pass^k
    * compounded-floor folds there is NO fold slack (the cross-family
    * laws bound those folds against this kernel). τ arrives as
    * rationals (num, den); problems with k > n emit NULL (undefined,
    * the [[passAtK]] convention).
    *
    * Scale shape: [[passAtK]]'s — ONE partial-aggregated
    * groupBy(problem), a ≤|ks × taus|-row explode, and the bounded
    * kernel on problem-sized rows.
    *
    * Output: (problem, n_samples, n_passed, k, tau_num, tau_den,
    * g_pass_micro), one row per (problem, k, τ).
    */
  def gPassAtK(df: DataFrame, problemCol: String, passedCol: String,
      ks: Seq[Int], taus: Seq[(Int, Int)]): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 64),
      "ks must be non-empty with each k in [1, 64]")
    require(ks == ks.distinct, "ks must be distinct")
    require(taus.nonEmpty &&
      taus.forall { case (tn, td) => tn >= 1 && tn <= td },
      "taus must be non-empty rationals with 1 <= num <= den")
    require(taus == taus.distinct, "taus must be distinct")
    val spec = array((for { k <- ks; (tn, td) <- taus } yield
      struct(lit(k.toLong).as("k"), lit(tn.toLong).as("tau_num"),
        lit(td.toLong).as("tau_den"))): _*)
    df.groupBy(col(problemCol).as("problem"))
      .agg(count(lit(1)).as("n_samples"),
        sum(when(col(passedCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_passed"))
      .select(col("problem"), col("n_samples"), col("n_passed"),
        explode(spec).as("__s"))
      .select(col("problem"), col("n_samples"), col("n_passed"),
        col("__s.k").as("k"), col("__s.tau_num").as("tau_num"),
        col("__s.tau_den").as("tau_den"),
        graft.functions.text.gPassAtKMicro(col("n_samples"),
          col("n_passed"), col("__s.k"), col("__s.tau_num"),
          col("__s.tau_den")).as("g_pass_micro"))
  }

  /** Self-consistency majority vote (Wang et al. 2022 — sample k chains,
    * answer with the mode): per problem, the majority answer among the
    * samples, its vote count, and the permille vote share. Answers must
    * be NUMERIC (the [[Similarity.labelNoiseByNeighbors]] /
    * decontaminate numeric-id contract) so the argmax tie-break — most
    * votes, then SMALLEST answer — rides one max(struct) aggregate with
    * no window. NULL answers are abstentions (dropped before the vote;
    * a problem whose samples all abstain emits no row).
    *
    * Scale shape: two partial-aggregated groupBys ((problem, answer) →
    * problem), both keyed exchanges of vote-count rows — never a
    * per-problem window or collected answer list.
    *
    * Output: (problem, majority_answer, n_majority, n_samples,
    * majority_permille).
    */
  def selfConsistency(df: DataFrame, problemCol: String,
      answerCol: String): DataFrame = {
    val votes = df
      .where(col(answerCol).isNotNull)
      .groupBy(col(problemCol).as("problem"),
        col(answerCol).cast("long").as("__ans"))
      .agg(count(lit(1)).as("__c"))
    votes.groupBy(col("problem"))
      .agg(max(struct(col("__c"), (-col("__ans")).as("__na"))).as("__m"),
        sum(col("__c")).as("n_samples"))
      .select(col("problem"), (-col("__m.__na")).as("majority_answer"),
        col("__m.__c").as("n_majority"), col("n_samples"),
        call_function("div", col("__m.__c") * 1000L, col("n_samples"))
          .as("majority_permille"))
  }

  /** Corpus-level ROUGE-L over a [[rougeL]] output frame: pooled LCS
    * over pooled lengths (the summary-level micro-average — Lin 2004's
    * corpus aggregation; same short-pairs-can't-zero argument as
    * [[corpusBleu]]). One one-row reduce. Output: n_pairs, cand_tokens,
    * ref_tokens, lcs_total, precision/recall/f1_permille (NULL where
    * the pooled denominator is empty).
    */
  def corpusRougeL(components: DataFrame): DataFrame =
    withPrf(components.agg(
      count(lit(1)).as("n_pairs"),
      coalesce(sum(col("cand_len")), lit(0L)).as("cand_tokens"),
      coalesce(sum(col("ref_len")), lit(0L)).as("ref_tokens"),
      coalesce(sum(col("lcs_len")), lit(0L)).as("lcs_total")),
      "lcs_total", "cand_tokens", "ref_tokens")

  /** Corpus-level TER over a [[terComponents]] output frame: pooled
    * edits over pooled reference tokens (the standard corpus TER —
    * again a micro-average, not a mean of per-pair rates). One one-row
    * reduce. Output: n_pairs, cand_tokens, ref_tokens, edit_ops,
    * ter_permille (NULL when the pooled reference is empty).
    */
  def corpusTer(components: DataFrame): DataFrame =
    components.agg(
      count(lit(1)).as("n_pairs"),
      coalesce(sum(col("cand_len")), lit(0L)).as("cand_tokens"),
      coalesce(sum(col("ref_len")), lit(0L)).as("ref_tokens"),
      coalesce(sum(col("edit_ops")), lit(0L)).as("edit_ops"))
      .withColumn("ter_permille", scaled(col("edit_ops"), col("ref_tokens"), 1000L))

  /** Corpus-level chrF over a [[chrF]] output frame — the number
    * sacrebleu actually reports: chrF's headline score is the
    * CORPUS-pooled character-gram F (matches and totals sum across pairs
    * per n FIRST, then the β = 2 F on the pooled grid), not a mean of
    * per-pair scores — the per-pair rows are the diagnostic view, this is
    * the quotable one. Pooling per n keeps the gram orders separate (the
    * final chrF averages F over n in float space — a caller policy, like
    * BLEU's exp brevity penalty; the pooled per-n components are the
    * replayable carriers). One partial-aggregated ≤maxN-row reduce; the
    * dropped all-zero coverage rows (see [[chrF]]) cannot move a sum.
    *
    * Output per n: (n, n_pairs, matches, cand_total, ref_total,
    * precision/recall/f1/f2_permille — NULL where the pooled denominator
    * is empty). `n_pairs` counts pairs with any gram on either side at
    * that n.
    */
  def corpusChrf(components: DataFrame): DataFrame = chrfTail(pooledSums(components))

  /** Corpus-level ROUGE-N over a [[rougeN]] output frame: pooled clipped
    * matches over pooled totals per n — the same micro-average the papers
    * that pool ROUGE-L report for ROUGE-1/2 (and the same
    * short-pairs-can't-zero argument as [[corpusBleu]]). One
    * partial-aggregated ≤maxN-row reduce. Output per n: (n, n_pairs,
    * matches, cand_total, ref_total, precision/recall/f1_permille).
    */
  def corpusRougeN(components: DataFrame): DataFrame = withPrf(pooledSums(components))

  /** Shared per-n pooling for the corpus chrF / ROUGE-N rollups: sum the
    * components across pairs per n; the callers then apply the SAME
    * permille ratio arithmetic as the per-pair rows ([[withPrf]],
    * [[chrfTail]] — one definition, no drift between the pair and corpus
    * views).
    */
  private def pooledSums(components: DataFrame): DataFrame =
    components.groupBy(col("n"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("matches")), lit(0L)).as("matches"),
        coalesce(sum(col("cand_total")), lit(0L)).as("cand_total"),
        coalesce(sum(col("ref_total")), lit(0L)).as("ref_total"))

  /** Benchmark-level pass@k rollup over a [[passAtK]] output frame — the
    * quoted number ("pass@1 on the benchmark") is the MEAN over problems
    * of the per-problem unbiased estimates, per k, on the micro grid
    * (sum div count — integer-exact given integer inputs). Alongside it,
    * the pass^k dual (Yao et al.-style agentic consistency: ALL k draws
    * pass, C(c,k)/C(n,k)) computed with the same compounded-floor fold
    * m ← ⌊m·(c−i)/(n−i)⌋ from 10⁶ — once a factor hits zero (c < k: some
    * draw must fail) m pins to 0 exactly. Problems where k > n are
    * undefined for BOTH estimators (same NULL set as [[passAtK]]) and
    * drop from the mean; `n_problems` is the defined count, so a mean
    * over a thinning problem set is visible, never silent.
    *
    * Scale shape: one bounded per-row fold + ONE partial-aggregated
    * groupBy(k) over problem-sized rows (|ks| output rows) — the input
    * aggregate already reduced samples to problems.
    *
    * Output: (k, n_problems, mean_pass_at_k_micro, mean_pass_all_k_micro),
    * means NULL when no problem defines the estimate.
    */
  def passAtKRollup(perProblem: DataFrame): DataFrame =
    perProblem
      .withColumn("__all",
        when(col("k") <= col("n_samples"),
          aggregate(sequence(lit(0L), col("k") - 1L), lit(1000000L),
            (acc, i) => call_function("div",
              acc * (col("n_passed") - i), col("n_samples") - i))))
      .groupBy(col("k"))
      .agg(count(col("pass_at_k_micro")).as("n_problems"),
        sum(col("pass_at_k_micro")).as("__sum_k"),
        sum(col("__all")).as("__sum_all"))
      .select(col("k"), col("n_problems"),
        when(col("n_problems") > 0,
          call_function("div", col("__sum_k"), col("n_problems")))
          .as("mean_pass_at_k_micro"),
        when(col("n_problems") > 0,
          call_function("div", col("__sum_all"), col("n_problems")))
          .as("mean_pass_all_k_micro"))

  /** Benchmark-level G-Pass@k rollup over a [[gPassAtK]] output frame —
    * the [[passAtKRollup]] symmetry (every per-problem estimator here
    * has its benchmark mean): the mean exact tail over problems per
    * (k, τ) on the micro grid, integer-exact sum div count. Problems
    * with k > n are NULL per the base operator and drop from the mean;
    * `n_problems` is the defined count, so a thinning problem set is
    * visible, never silent. ONE partial-aggregated groupBy over
    * problem-sized rows (≤ |ks × taus| output rows).
    *
    * Output: (k, tau_num, tau_den, n_problems, mean_g_pass_micro —
    * NULL when no problem defines the estimate).
    */
  def gPassAtKRollup(perProblem: DataFrame): DataFrame =
    perProblem
      .groupBy(col("k"), col("tau_num"), col("tau_den"))
      .agg(count(col("g_pass_micro")).as("n_problems"),
        sum(col("g_pass_micro")).as("__sum"))
      .select(col("k"), col("tau_num"), col("tau_den"), col("n_problems"),
        when(col("n_problems") > 0,
          call_function("div", col("__sum"), col("n_problems")))
          .as("mean_g_pass_micro"))

  /** Benchmark-level self-consistency rollup over a [[selfConsistency]]
    * output frame — the quoted agreement numbers: the mean majority
    * share across problems (sum div count, integer-exact) and the share
    * of problems whose majority clears a quorum (the "k chains agree"
    * operating point an agentic pipeline gates on). The
    * [[passAtKRollup]] symmetry: every per-problem estimator here has
    * its benchmark mean. One partial-aggregated one-row reduce over
    * problem-sized rows.
    *
    * Output (one row): n_problems, mean_majority_permille, n_quorum,
    * quorum_share_permille (NULLs when there are no problems).
    */
  def selfConsistencyRollup(perProblem: DataFrame,
      quorumPermille: Long = 500L): DataFrame = {
    require(quorumPermille >= 0 && quorumPermille <= 1000,
      "quorumPermille must be in [0, 1000]")
    perProblem.agg(
      count(lit(1)).as("n_problems"),
      sum(col("majority_permille")).as("__sum"),
      sum(when(col("majority_permille") >= quorumPermille, 1L).otherwise(0L))
        .as("n_quorum"))
      .select(col("n_problems"),
        when(col("n_problems") > 0,
          call_function("div", col("__sum"), col("n_problems")))
          .as("mean_majority_permille"),
        col("n_quorum"),
        scaled(col("n_quorum"), col("n_problems"), 1000L).as("quorum_share_permille"))
  }

  /** BERTScore-lite (Zhang et al. 2020, minus the contextual encoder and
    * IDF weighting): soft max-matching between two UNIT-embedding sets
    * per pair — recall = mean over reference units of the best similarity
    * any candidate unit offers, precision the mirror, F1 harmonic. The
    * embedding-family eval metric next to the n-gram (BLEU/ROUGE/chrF)
    * and edit (TER) families: it credits paraphrases n-grams miss.
    *
    * Similarity = floor(dotScale · dot) — the dot product in an
    * in-order fold, floored onto an integer grid. Two supported input
    * regimes: INTEGER-VALUED vectors (e.g. [[Similarity.quantizeInt8]]
    * codes cast to double) with dotScale = 1 give exact arithmetic
    * below 2^53 and bit-for-bit engine replay (the gate's mode);
    * NORMALIZED float embeddings (dot = cosine ∈ [−1, 1]) need
    * dotScale = 1e6 — the mmrSelect micro-unit grid — because flooring
    * a cosine at scale 1 collapses nearly every similarity to 0/−1 and
    * the means with it. Float mode scores validly on the µ-grid but the
    * max near float-ties is engine-specific. Means are truncated
    * integer division on the (scaled) dot grid; F1 is NULL unless both
    * means are strictly positive (dots can be negative — a harmonic
    * mean of signed similarities is undefined, not clamped).
    *
    * Scale shape: ONE pair-keyed equi-join (hash/SMJ on pair_id — never
    * a cross product; per-pair cost is |cand units|·|ref units|, so
    * bound units per document upstream the way [[chrF]] bounds chars),
    * then two partial-aggregated max reductions and a per-pair join of
    * two pair-sized frames. Pairs missing either side drop (inner join):
    * a one-sided pair has no defined matching.
    *
    * Output: (pair_id, n_cand, n_ref, precision_sum, recall_sum,
    * precision_mean, recall_mean, f1).
    */
  def bertScore(candUnits: DataFrame, refUnits: DataFrame,
      pairCol: String, unitCol: String, vecCol: String,
      dotScale: Long = 1L): DataFrame = {
    require(dotScale >= 1L && dotScale <= 1000000000L,
      "dotScale must be in [1, 1e9]")
    def dot(a: Column, b: Column): Column =
      floor(aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x) * lit(dotScale.toDouble)).cast("long")
    val c = candUnits.select(col(pairCol).as("pair_id"),
      col(unitCol).as("__cu"), col(vecCol).as("__cv"))
    val r = refUnits.select(col(pairCol).as("pair_id"),
      col(unitCol).as("__ru"), col(vecCol).as("__rv"))
    val sims = c.join(r, "pair_id")
      .select(col("pair_id"), col("__cu"), col("__ru"),
        dot(col("__cv"), col("__rv")).as("__sim"))
    val recall = sims.groupBy(col("pair_id"), col("__ru"))
      .agg(max(col("__sim")).as("__best"))
      .groupBy(col("pair_id"))
      .agg(count(lit(1)).as("n_ref"), sum(col("__best")).as("recall_sum"))
    val precision = sims.groupBy(col("pair_id"), col("__cu"))
      .agg(max(col("__sim")).as("__best"))
      .groupBy(col("pair_id"))
      .agg(count(lit(1)).as("n_cand"), sum(col("__best")).as("precision_sum"))
    precision.join(recall, "pair_id")
      .withColumn("precision_mean",
        call_function("div", col("precision_sum"), col("n_cand")))
      .withColumn("recall_mean",
        call_function("div", col("recall_sum"), col("n_ref")))
      .withColumn("f1",
        when(col("precision_mean") > 0 && col("recall_mean") > 0,
          call_function("div",
            col("precision_mean") * col("recall_mean") * 2L,
            col("precision_mean") + col("recall_mean"))))
      .select(col("pair_id"), col("n_cand"), col("n_ref"),
        col("precision_sum"), col("recall_sum"),
        col("precision_mean"), col("recall_mean"), col("f1"))
  }

  /** IDF-weighted BERTScore-lite — Zhang et al. 2020's headline
    * configuration: reference units weight the recall mean by their
    * corpus rarity (a candidate that recalls only stopwords should not
    * score like one that recalls the content words), and the precision
    * mean weights candidate units from the SAME reference-corpus table.
    * recall_mean = ⌊Σ w(ru)·best(ru) / Σ w(ru)⌋ on the weight×dot grid,
    * precision the mirror; F1 harmonic with the [[bertScore]] signed
    * guard. Weights arrive as a (key, weight_micro) table joined on a
    * unit-key column — broadcastable by construction (vocabulary-sized
    * metadata; the join hints broadcast). Units whose key is absent take
    * `missingWeightMicro` (Zhang's +1 smoothing gives unseen tokens a
    * defined idf; the default 10⁶ = weight 1.0 on the µ grid — explicit,
    * never silent: the parameter IS the policy). Any µ-integer weight
    * table works — [[idfWeightsMicro]] supplies the exactly-replayable
    * rational inverse-frequency table the gate pins; an ln-grid idf
    * table computed outside the replay contract drops into the same
    * plumbing. A UNIFORM weight table (any constant W > 0) reproduces
    * [[bertScore]]'s means and F1 exactly (⌊W·S / W·n⌋ = ⌊S/n⌋ — the
    * spec law).
    *
    * Scale shape: [[bertScore]]'s ONE pair-keyed equi-join and two max
    * reductions, plus one broadcast-joined weight lookup per unit — the
    * weighted sums accumulate in DECIMAL(38,0) (weight×dot products
    * overflow long at corpus scale; the final div is the only long).
    *
    * Output: (pair_id, n_cand, n_ref, precision_wsum, recall_wsum,
    * precision_mean, recall_mean, f1).
    */
  def bertScoreIdf(candUnits: DataFrame, refUnits: DataFrame,
      pairCol: String, unitCol: String, vecCol: String, keyCol: String,
      weights: DataFrame, weightKeyCol: String, weightCol: String,
      missingWeightMicro: Long = 1000000L, dotScale: Long = 1L): DataFrame = {
    require(dotScale >= 1L && dotScale <= 1000000000L,
      "dotScale must be in [1, 1e9]")
    require(missingWeightMicro >= 0L,
      "missingWeightMicro must be non-negative")
    def dot(a: Column, b: Column): Column =
      floor(aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x) * lit(dotScale.toDouble)).cast("long")
    val w = broadcast(weights.select(col(weightKeyCol).as("__wk"),
      col(weightCol).cast("long").as("__wm")))
    val c = candUnits.select(col(pairCol).as("pair_id"),
      col(unitCol).as("__cu"), col(vecCol).as("__cv"),
      col(keyCol).as("__ck"))
    val r = refUnits.select(col(pairCol).as("pair_id"),
      col(unitCol).as("__ru"), col(vecCol).as("__rv"),
      col(keyCol).as("__rk"))
    val sims = c.join(r, "pair_id")
      .select(col("pair_id"), col("__cu"), col("__ck"), col("__ru"),
        col("__rk"), dot(col("__cv"), col("__rv")).as("__sim"))
    // the key rides the per-unit groupBy (functionally dependent on the
    // unit id — one extra grouping column, no second pass)
    def sidePool(bestOf: DataFrame, unit: String, key: String,
        nCol: String, wsumCol: String, dotCol: String): DataFrame =
      bestOf.groupBy(col("pair_id"), col(unit), col(key))
        .agg(max(col("__sim")).as("__best"))
        .join(w, col(key) === col("__wk"), "left")
        .withColumn("__w", coalesce(col("__wm"), lit(missingWeightMicro)))
        .groupBy(col("pair_id"))
        .agg(count(lit(1)).as(nCol), sum(col("__w")).as(wsumCol),
          sum((col("__w") * col("__best")).cast("decimal(38,0)"))
            .as(dotCol))
    val recall = sidePool(sims, "__ru", "__rk", "n_ref", "recall_wsum", "__rd")
    val precision = sidePool(sims, "__cu", "__ck", "n_cand",
      "precision_wsum", "__pd")
    precision.join(recall, "pair_id")
      .withColumn("precision_mean",
        when(col("precision_wsum") > 0,
          call_function("div", col("__pd"), col("precision_wsum"))))
      .withColumn("recall_mean",
        when(col("recall_wsum") > 0,
          call_function("div", col("__rd"), col("recall_wsum"))))
      .withColumn("f1",
        when(col("precision_mean") > 0 && col("recall_mean") > 0,
          call_function("div",
            col("precision_mean") * col("recall_mean") * 2L,
            col("precision_mean") + col("recall_mean"))))
      .select(col("pair_id"), col("n_cand"), col("n_ref"),
        col("precision_wsum"), col("recall_wsum"),
        col("precision_mean"), col("recall_mean"), col("f1"))
  }

  /** Rational inverse-document-frequency weights on the µ grid — the
    * [[bertScoreIdf]] weight table built the exactly-replayable way:
    * idf_micro = ⌊(N+1)·10⁶ / (df+1)⌋ with N = distinct documents
    * (pairs) in the reference corpus and df = distinct documents
    * containing the key (the +1s are Zhang-2020's smoothing — every
    * unseen key has a defined weight). This is the RATIO Zhang's ln-idf
    * is the logarithm of: the log itself is a transcendental whose
    * µ-grid floor is not guaranteed to replay across engines (two
    * correctly-rounded-ish libms can floor a near-boundary value apart),
    * so the replayable table carries the ratio and callers wanting
    * ln-compressed weights compute that table outside the replay
    * contract — same plumbing, different table. Weights are ≥ 10⁶ by
    * construction (df ≤ N), so weighted sums never hit the zero-wsum
    * guard.
    *
    * Scale shape: one (key)-keyed distinct-count aggregate + a one-row
    * broadcast total — vocabulary-sized output, built once and shared.
    *
    * Output: (key, df, idf_micro).
    */
  def idfWeightsMicro(units: DataFrame, pairCol: String,
      keyCol: String): DataFrame = {
    val base = units.select(col(pairCol).as("__p"), col(keyCol).as("key"))
    val totals = base.agg(count_distinct(col("__p")).as("__nn"))
    base.groupBy(col("key"))
      .agg(count_distinct(col("__p")).as("df"))
      .crossJoin(broadcast(totals))
      .select(col("key"), col("df"),
        call_function("div", (col("__nn") + 1L) * 1000000L,
          col("df") + 1L).as("idf_micro"))
  }

  /** Corpus distinct-n (Li et al. 2016's diversity metric, the cheap
    * companion to [[selfBleu]]): distinct word n-grams over total word
    * n-grams across the WHOLE corpus, per n = 1..maxN — a mode-collapsed
    * generator repeats itself, so its distinct share craters long before
    * per-sample quality moves. Same tokenization as every metric here.
    *
    * Scale shape: the [[ngramOverlap]] two-stage generator (n-spec
    * explode, one column-parameterized gram explode) into TWO keyed
    * partial aggregates — (n, gram) counts, then the per-n reduce; the
    * gram shuffle is the whole cost and it is one pass. Documents with
    * fewer than n tokens contribute nothing at that n; an n with zero
    * grams corpus-wide emits no row (explode, deliberately not outer —
    * there is no pair-coverage contract here).
    *
    * Output: (n, total_grams, distinct_grams, distinct_permille).
    */
  def distinctN(df: DataFrame, textCol: String, maxN: Int = 2): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    val specs = array((1 to maxN).map(n => lit(n.toLong)): _*)
    val grams = df
      .select(toks(col(textCol)).as("__t"))
      .withColumn("n", explode(specs))
      .select(col("n"), explode(wordGrams(col("__t"), col("n"))).as("gram"))
    grams.groupBy(col("n"), col("gram"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("n"))
      .agg(sum(col("__c")).as("total_grams"),
        count(lit(1)).as("distinct_grams"))
      .select(col("n"), col("total_grams"), col("distinct_grams"),
        call_function("div", col("distinct_grams") * 1000L, col("total_grams"))
          .as("distinct_permille"))
  }

  /** n-gram novelty of generated text against a reference corpus (the
    * RAVEN-style memorization/creativity audit, McCoy et al. 2023: how
    * much of what the model emits is copied n-grams?): per generated
    * document and n = 1..maxN, the share of its word n-gram INSTANCES
    * absent from the reference corpus's n-gram set. Low novelty at high
    * n = the generator replays training text — the gram-level signal the
    * document-level decontamination family can't see. Same tokenization
    * as every metric here.
    *
    * Scale shape: the reference reduces ONCE to its distinct (n, gram)
    * set (one partial-agg shuffle — at 100 TB this is the big side, and
    * it is exactly one dedup); generated grams anti-join that set on the
    * (n, gram) hash key (never broadcast-sized assumptions — Catalyst
    * may still broadcast a small reference), then one doc-keyed rollup.
    * Generated documents with no n-gram at some n emit no row for that n
    * (the [[distinctN]] convention).
    *
    * Output: (doc_id, n, total_grams, novel_grams, novelty_permille).
    */
  def ngramNovelty(gen: DataFrame, textCol: String, idCol: String,
      ref: DataFrame, refTextCol: String, maxN: Int = 2): DataFrame =
    incrementalNovelty(gen, textCol, idCol,
      noveltyIndex(ref, refTextCol, maxN))

  /** The family tokenizer / column-parameterized gram builder, exposed
    * for the streaming novelty twin (same definitions, no drift). */
  private[graft] def toksOf(c: Column): Column = toks(c)
  private[graft] def wordGramsOf(tokens: Column, n: Column): Column =
    wordGrams(tokens, n)

  /** The distinct (n, gram) set of a reference corpus for n = 1..maxN —
    * the novelty family's index side, built ONCE (one partial-agg dedup
    * shuffle) and shared: [[ngramNovelty]] anti-joins it per audit, the
    * streaming monitor stream-static-joins it per micro-batch (persist
    * or write it out for the long-running query; at 100 TB the set is
    * the expensive artifact and this is its single construction point).
    * Output: (n, gram), distinct.
    */
  def referenceGramSet(ref: DataFrame, refTextCol: String,
      maxN: Int = 2): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    val specs = array((1 to maxN).map(n => lit(n.toLong)): _*)
    ref
      .select(toks(col(refTextCol)).as("__t"))
      .withColumn("n", explode(specs))
      .select(col("n"), explode(wordGrams(col("__t"), col("n"))).as("gram"))
      .distinct()
  }

  /** Persistable novelty index: the distinct (n, gram) reference set
    * plus the maxN that produced it — carrying the parameter WITH the
    * entries makes an order mismatch (index built to bigrams, batch
    * probed to trigrams — absent grams silently all "novel")
    * unrepresentable, the [[Dedup.MinhashIndex]] convention. Persist
    * `entries` as a table bucketed by gram; reconstruct the wrapper with
    * the same maxN on load.
    */
  final case class NoveltyIndex(entries: DataFrame, maxN: Int)

  /** Build a [[NoveltyIndex]] over the reference corpus — one
    * partial-agg dedup, the construction [[referenceGramSet]] documents.
    */
  def noveltyIndex(ref: DataFrame, refTextCol: String,
      maxN: Int = 2): NoveltyIndex =
    NoveltyIndex(referenceGramSet(ref, refTextCol, maxN), maxN)

  /** Per-batch novelty against a prebuilt [[NoveltyIndex]] — the
    * 100 TB / continuous-ingest path: the reference set is built (and
    * persisted) ONCE, each incoming generation batch pays only its own
    * gram volume × one anti-join against the stored set (the
    * [[Dedup.incrementalExact]] delta-cost shape). Same output and
    * semantics as [[ngramNovelty]] — which is this operator over a
    * just-built index (one definition, no drift).
    */
  def incrementalNovelty(batch: DataFrame, textCol: String, idCol: String,
      index: NoveltyIndex): DataFrame = {
    val maxN = index.maxN
    val specs = array((1 to maxN).map(n => lit(n.toLong)): _*)
    val genGrams = batch
      .select(col(idCol).as("doc_id"), toks(col(textCol)).as("__t"))
      .withColumn("n", explode(specs))
      .select(col("doc_id"), col("n"),
        explode(wordGrams(col("__t"), col("n"))).as("gram"))
    val totals = genGrams.groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("total_grams"))
    val novel = genGrams
      .join(index.entries.select(col("n"), col("gram")), Seq("n", "gram"),
        "left_anti")
      .groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("novel_grams"))
    totals.join(novel, Seq("doc_id", "n"), "left")
      .select(col("doc_id"), col("n"), col("total_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"))
      .withColumn("novelty_permille",
        call_function("div", col("novel_grams") * 1000L, col("total_grams")))
  }

  /** Per-sequence repetition (Welleck et al. 2020's rep-n, the
    * text-degeneration diagnostic): per document and n, the share of
    * n-gram instances that REPEAT an earlier n-gram of the same
    * document — 1000 − distinct·1000 div total on the permille grid.
    * The per-document twin of the corpus-level [[distinctN]]: a
    * generator that loops emits high rep-n long before corpus-level
    * diversity moves.
    *
    * Scale shape: zero shuffle — the n-spec explode plus a row-local
    * distinct count (array_distinct is bounded by the document's own
    * gram count). Documents with no n-gram at some n emit no row for
    * that n ([[distinctN]]'s convention).
    *
    * Output: (doc_id, n, total_grams, distinct_grams, rep_permille).
    */
  def seqRepN(df: DataFrame, textCol: String, idCol: String,
      maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    // one kernel pass per row (GramRepCountsExpr), then one explode of
    // the ≤maxN-row result — the HOF formulation (per-n gram arrays +
    // interpreted array_distinct) measured ~8× slower on 300-token docs
    df
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.text.gramRepCounts(
          toks(col(textCol)), maxN)).as("__g"))
      .select(col("doc_id"), col("__g.n").as("n"),
        col("__g.total_grams").as("total_grams"),
        col("__g.distinct_grams").as("distinct_grams"))
      .withColumn("rep_permille",
        lit(1000L) - call_function("div",
          col("distinct_grams") * 1000L, col("total_grams")))
  }

  /** Corpus-level novelty over an [[ngramNovelty]] output frame: pooled
    * novel instances over pooled instances per n — the quotable number
    * ("x‰ of emitted 4-grams are new"), micro-averaged like every corpus
    * rollup here. One partial-aggregated ≤maxN-row reduce.
    * Output: (n, n_docs, total_grams, novel_grams, novelty_permille).
    */
  def corpusNovelty(perDoc: DataFrame): DataFrame =
    perDoc.groupBy(col("n"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("total_grams")), lit(0L)).as("total_grams"),
        coalesce(sum(col("novel_grams")), lit(0L)).as("novel_grams"))
      .withColumn("novelty_permille",
        call_function("div", col("novel_grams") * 1000L, col("total_grams")))

  /** ROUGE-N per pair for n = 1..`maxN`: clipped matches, the two
    * totals, and the permille recall / precision / F1 —
    * recall = 1000·m div ref_total (the ROUGE headline number),
    * F1 = 2·P·R div (P+R) on the permille grid. One output row per
    * (pair, n); pairs whose REFERENCE has no n-gram emit NULL recall
    * (undefined, not zero — a zero would rank an empty reference as
    * "perfectly missed").
    */
  def rougeN(pairs: DataFrame, pairIdCol: String, candCol: String,
      refCol: String, maxN: Int = 2): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    // row-local clip kernel (round-11; guide §2.4): the clipped counts
    // are per (pair, n), so one bounded hash-multiset pass per row
    // emits the identical rows [[ngramOverlap]]'s (pair, n, gram)
    // shuffle aggregated — zero exchange; the explode fans out only
    // maxN ≤ 8 pre-reduced structs per pair. The distributed witness
    // is [[rougeNShuffled]] (EvalMetricsSpec law).
    val comp = kernelPrfRows(pairs
      .select(col(pairIdCol).as("pair_id"),
        toks(col(candCol)).as("__ct"), toks(col(refCol)).as("__rt"))
      .withColumn("__pc", graft.functions.text.gramPrfCounts(
        col("__ct"), col("__rt"), maxN, chars = false)), maxN)
    // drop the coverage rows (see ngramOverlap): a (pair, n) with no
    // gram on EITHER side has no defined ROUGE row
    withPrf(comp.where(col("cand_total") + col("ref_total") > 0))
  }

  /** Unpack the kernel's fixed-length per-n struct array into rows via a
    * generator over a CONSTANT index spec + element_at — NOT
    * explode(__pc): Catalyst's InferFiltersFromGenerate would derive
    * `size(__pc) > 0` from a data-dependent explode, and constraint
    * pushdown then substitutes the whole kernel chain into the pair
    * join's condition — the kernel ran TWICE per row (caught by the
    * round-11 plan audit: `gramprfcountsexpr` appeared in the Join
    * condition). The constant spec's inferred filter folds away, the
    * kernel column crosses the Generate as a concrete attribute, and
    * the array always has exactly maxN entries so the row set is
    * identical.
    */
  private def kernelPrfRows(staged: DataFrame, maxN: Int): DataFrame =
    staged
      .select(col("pair_id"), col("__pc"),
        explode(array((1 to maxN).map(i => lit(i)): _*)).as("__i"))
      .select(col("pair_id"),
        element_at(col("__pc"), col("__i")).as("__e"))
      .select(col("pair_id"), col("__e.n").as("n"),
        col("__e.matches").as("matches"),
        col("__e.cand_total").as("cand_total"),
        col("__e.ref_total").as("ref_total"))

  /** The distributed form of [[rougeN]] (the round-10 shape) — identical
    * output; kept only as the EvalMetricsSpec law witness.
    */
  private[graft] def rougeNShuffled(pairs: DataFrame, pairIdCol: String,
      candCol: String, refCol: String, maxN: Int = 2): DataFrame = {
    val comp = ngramOverlap(pairs, pairIdCol, candCol, refCol, maxN)
    withPrf(comp.where(col("cand_total") + col("ref_total") > 0))
  }

  /** chrF components: character-n-gram overlap for n = 1..`maxN`
    * (standard chrF uses 6; pass what the texts' length budget affords),
    * same P/R/F1 permille columns as [[rougeN]] — chrF's β = 2 variant
    * weights recall, F2 = 5·P·R div (4·P + R), also emitted. Texts are
    * lowercased + trimmed; `maxChars` truncates BEFORE gram extraction
    * so one pathological document can't explode length² rows.
    */
  def chrF(pairs: DataFrame, pairIdCol: String, candCol: String,
      refCol: String, maxN: Int = 3, maxChars: Int = 2000): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    require(maxChars >= maxN, "maxChars must cover at least one gram")
    def prep(c: Column): Column = substring(trim(lower(coalesce(c, lit("")))), 1, maxChars)
    // row-local clip kernel over CHARACTER grams (round-11; guide §2.4):
    // maxChars bounds the per-row gram multiset by contract, so the
    // char-gram explode — the family's largest amplification, ~maxChars
    // rows per (pair, n, side) — and its (pair, n, gram) exchange
    // collapse into one bounded pass per row (code-point slicing ==
    // substr semantics, so scores are bit-identical; the law witness is
    // [[chrFShuffled]]).
    val comp = kernelPrfRows(pairs
      .select(col(pairIdCol).as("pair_id"),
        prep(col(candCol)).as("__cs"), prep(col(refCol)).as("__rs"))
      .withColumn("__pc", graft.functions.text.gramPrfCounts(
        col("__cs"), col("__rs"), maxN, chars = true)), maxN)
      .where(col("cand_total") + col("ref_total") > 0) // rougeN's rule
    chrfTail(comp)
  }

  /** The distributed form of [[chrF]] (the round-10 shape) — identical
    * output; kept only as the EvalMetricsSpec law witness.
    */
  private[graft] def chrFShuffled(pairs: DataFrame, pairIdCol: String,
      candCol: String, refCol: String, maxN: Int = 3,
      maxChars: Int = 2000): DataFrame = {
    def prep(c: Column): Column = substring(trim(lower(coalesce(c, lit("")))), 1, maxChars)
    val base = pairs.select(col(pairIdCol).as("pair_id"),
      prep(col(candCol)).as("__cs"), prep(col(refCol)).as("__rs"))
    def cg(n: Column, side: Column): Column = {
      val t = when(side === 0, col("__cs")).otherwise(col("__rs"))
      val nI = n.cast("int")
      when(length(t) >= nI,
        transform(sequence(lit(1), length(t) - nI + lit(1)),
          i => t.substr(i, nI)))
        .otherwise(array().cast("array<string>"))
    }
    val comp = sideCounts(base, cg, maxN)
      .where(col("cand_total") + col("ref_total") > 0)
    chrfTail(comp)
  }

  /** The shared chrF P/R/F1/F2 tail over a (pair, n, matches,
    * cand_total, ref_total) component frame — one definition so the
    * kernel and shuffled forms cannot drift.
    */
  private def chrfTail(comp: DataFrame): DataFrame =
    withPrf(comp).withColumn("f2_permille",
      fBeta(col("precision_permille"), col("recall_permille"), 4L))

  /** Deterministic self-BLEU pair frame: every document paired with
    * `peers` pseudo-random OTHER documents — the pair generator self-BLEU
    * needs (score each generated sample against sampled peers; high
    * corpus-level BLEU = mode collapse) without the non-replayable
    * `rand()` peer pick every hand-rolled version reaches for. NO RNG
    * (the [[Curation.wordDropout]] contract): the pairing is a pure
    * function of (ids, seed), identical under retries, recomputation,
    * and cross-engine replay.
    *
    * Construction — a hash-shuffled ring:
    *   1. rank documents by (portableHash31(id, seed), id) into ring
    *      positions 0..n-1 via the TWO-LEVEL bucket-offset rank (the
    *      [[Curation.alignScores]] / [[Fuzzy.sortedNeighborhoodJoin]]
    *      pattern: range-exchange into `buckets` ranges, per-bucket
    *      row_number, broadcast ≤`buckets`-row prefix-sum offsets — no
    *      global single-partition sort; range boundaries affect only
    *      which bucket ranks a row, never the final position);
    *   2. peer j of the doc at position r sits at (r + o_j) mod n, with
    *      o_j = 1 + (hash31(seed-off|j) mod (n-1)) — a GLOBAL per-j ring
    *      offset (k driver-computed longs from the same single-read
    *      count frame the rank needs anyway). o_j ∈ [1, n-1] makes every
    *      shift a derangement: self-pairs are impossible by construction.
    *      Distinct j may collide on o_j (sampling peers with
    *      replacement) — acceptable for a diversity statistic and the
    *      price of keeping peer choice metadata-sized.
    *   3. one shuffled equi-join on ring position fetches peer texts —
    *      O(n·peers) rows, never a product.
    *
    * Output: (pair_id, cand_id, ref_id, peer_ord, cand, ref) with
    * pair_id = cand_id·peers + (peer_ord − 1) (callers feed it straight
    * to [[bleuComponents]]; ids must stay below Long.Max/peers).
    * PRECONDITION: ids must be UNIQUE after the long cast — duplicates
    * would rank to distinct ring positions in a nondeterministic tie
    * order, could pair with their own duplicate despite the derangement
    * (cand_id == ref_id), and collide on pair_id; enforced eagerly from
    * the same metadata-sized count read (per-bucket distinct counts sum
    * globally because equal ids share the exact range key). Requires
    * n ≥ 2 (also raised eagerly — one document has no peer).
    */
  def selfBleuPairs(df: DataFrame, textCol: String, idCol: String,
      peers: Int, seed: String = "graft-selfbleu",
      buckets: Int = 64): DataFrame = {
    require(peers >= 1 && peers <= 16, "peers must be in [1, 16]")
    require(buckets >= 1, "buckets must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val base = df
      .where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__sb_id"),
        col(textCol).as("__sb_text"),
        Curation.portableHash31(col(idCol).cast("long"), seed).as("__sb_h"))
    // materialize the BUCKETED frame (eager local checkpoint — the BFS
    // convention: blocks are ContextCleaner-collected once the returned
    // frame is unreferenced, unlike a persist() which would leak in the
    // CacheManager on a lazily-consumed result): the counts job below
    // and the ring join's two sides all read the same materialized
    // bucketing, so the collected offsets can never disagree with the
    // rank evaluation (range boundaries re-sample per evaluation in
    // principle — measured deterministic in-session, but the
    // materialization makes it a non-question) and the scan+hash runs
    // once instead of twice
    val ranged = base.repartitionByRange(buckets, col("__sb_h"), col("__sb_id"))
      .withColumn("__sb_bk", spark_partition_id())
      .localCheckpoint(true)
    // single read: per-bucket counts (≤ buckets rows) supply the prefix
    // offsets, the corpus size n, the n ≥ 2 guard, AND the unique-id
    // guard — the alignScores single-read discipline. Ids MUST be unique
    // (post long-cast): duplicates would take distinct ring positions in
    // a nondeterministic tie order, could land on their own duplicate
    // despite the derangement offsets (cand_id == ref_id), and collide on
    // pair_id, silently corrupting the downstream component grouping.
    // The check is metadata-priced: per-bucket count_distinct sums to the
    // GLOBAL distinct count because duplicate ids share (hash, id) — the
    // exact range key — so they can never straddle a bucket boundary.
    val bucketCounts = ranged.groupBy(col("__sb_bk"))
      .agg(count(lit(1)).as("__sb_bn"),
        count_distinct(col("__sb_id")).as("__sb_bd"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val n = bucketCounts.map(_._2).sum
    val nDistinct = bucketCounts.map(_._3).sum
    require(n >= 2, s"selfBleuPairs: need >= 2 documents, got $n")
    require(nDistinct == n,
      s"selfBleuPairs: ids must be unique after the long cast " +
        s"(got $n rows over $nDistinct distinct ids) — duplicate ids " +
        s"break the derangement and collide on pair_id")
    var running = 0L
    val offsetRows = bucketCounts.map { case (bk, c, _) =>
      val off = running; running += c; (bk, off)
    }.toSeq
    // per-peer ring offsets: driver-side portable hash (bit-identical to
    // the portableHash31 SQL form, so the oracle replays the o_j values)
    val ringOffsets = (1 to peers).map { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$seed-off|$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      (j, 1L + (java.lang.Long.parseLong(hex, 16) & 2147483647L) % (n - 1))
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offs = offsetRows.toDF("__sb_bk", "__sb_off")
    val peerSpec = ringOffsets.toDF("peer_ord", "__sb_oj")
    val pos = ranged
      .withColumn("__sb_pr", row_number().over(
        Window.partitionBy(col("__sb_bk"))
          .orderBy(col("__sb_h"), col("__sb_id"))).cast("long"))
      .join(broadcast(offs), "__sb_bk")
      .select(col("__sb_id"), col("__sb_text"),
        (col("__sb_off") + col("__sb_pr") - 1L).as("__sb_pos"))
    // crossJoin is a broadcast of the ≤16-row peer spec (metadata-sized,
    // the one-row-frame convention's k-row sibling)
    val left = pos.crossJoin(broadcast(peerSpec))
      .select(col("__sb_id").as("cand_id"), col("__sb_text").as("cand"),
        col("peer_ord"),
        pmod(col("__sb_pos") + col("__sb_oj"), lit(n)).as("__sb_ppos"))
    val right = pos.select(col("__sb_pos").as("__sb_ppos"),
      col("__sb_id").as("ref_id"), col("__sb_text").as("ref"))
    left.join(right, "__sb_ppos")
      .select(
        (col("cand_id") * peers.toLong + col("peer_ord").cast("long") - 1L)
          .as("pair_id"),
        col("cand_id"), col("ref_id"), col("peer_ord").cast("long").as("peer_ord"),
        col("cand"), col("ref"))
  }

  /** Corpus self-BLEU (Zhu et al. 2018's diversity metric): BLEU
    * components of every document against `peers` deterministically
    * sampled peers — [[selfBleuPairs]] ∘ [[bleuComponents]]. High
    * average precision_geo_permille = the generator repeats itself.
    */
  def selfBleu(df: DataFrame, textCol: String, idCol: String,
      peers: Int = 2, seed: String = "graft-selfbleu"): DataFrame = {
    val pairs = selfBleuPairs(df, textCol, idCol, peers, seed)
    // round-11: the pre-amplification repartition is GONE with the gram
    // generator it existed for — [[bleuComponents]] now clips row-local
    // (no ~10³× explode downstream for AQE to mis-coalesce under), so
    // the kernel rides the ring join's own position-keyed distribution
    // and the extra exchange would be pure cost
    bleuComponents(pairs, "pair_id", "cand", "ref")
  }

  /** TER-lite: token-level edit distance per pair — the edit-family eval
    * metric next to the n-gram families (TER, Snover et al. 2006, minus
    * the shift operation: shifts need per-pair alignment search, and the
    * insert/delete/substitute core is what a corpus-scale screen ranks
    * by). Integer-exact and engine-replayable.
    *
    * Token-level distance via ASCII RELABELING: each pair's union
    * vocabulary maps token → one ASCII char (codepoint 48 + first-seen
    * index), and `levenshtein` over the encoded strings IS the token
    * edit distance — edit distance is invariant under any injective
    * symbol relabeling, so the two engines may order their vocabularies
    * differently and still compute the same integer. `maxTokens` ≤ 40
    * keeps the union vocabulary ≤ 80 symbols — codepoints stay strictly
    * ASCII, where Spark's byte-wrapping chr() and DuckDB's
    * codepoint chr() agree (and levenshtein counts the same units).
    *
    * Scale shape: zero shuffle — one per-row expression (the O(len²) DP
    * is 40·40 cells on bounded tokens); truncation happens BEFORE
    * encoding, the chrF maxChars discipline.
    *
    * Output: (pair_id, cand_len, ref_len [post-truncation token counts],
    * edit_ops, ter_permille = 1000·edits div ref_len, NULL when the
    * reference is empty — TER is undefined, not perfect, there).
    */
  def terComponents(pairs: DataFrame, pairIdCol: String, candCol: String,
      refCol: String, maxTokens: Int = 40): DataFrame = {
    require(maxTokens >= 1 && maxTokens <= 40,
      "maxTokens must be in [1, 40] (ASCII relabeling: union vocab <= 80)")
    val base = pairs.select(col(pairIdCol).as("pair_id"),
      slice(toks(col(candCol)), 1, maxTokens).as("__ct"),
      slice(toks(col(refCol)), 1, maxTokens).as("__rt"))
    // first-occurrence vocab (array_distinct preserves order); the lambda
    // touches only the lambda var + a bare attribute reference, so the
    // HOF no-hoisting gotcha doesn't bite (nothing expensive re-evaluates
    // per element — array_position over <= 80 entries is the DP's noise)
    val withVocab = base.withColumn("__vocab",
      array_distinct(concat(col("__ct"), col("__rt"))))
    def enc(c: Column): Column =
      concat_ws("", transform(c,
        t => chr(array_position(col("__vocab"), t) + lit(47L))))
    withVocab
      .select(col("pair_id"),
        size(col("__ct")).cast("long").as("cand_len"),
        size(col("__rt")).cast("long").as("ref_len"),
        levenshtein(enc(col("__ct")), enc(col("__rt")))
          .cast("long").as("edit_ops"))
      .withColumn("ter_permille", scaled(col("edit_ops"), col("ref_len"), 1000L))
  }

  /** Attach permille precision / recall / F1 to a frame of match,
    * candidate and reference counts (by default the [[ngramOverlap]]
    * names). NULL when the respective denominator is 0; F1 NULL unless
    * both sides defined and P+R > 0.
    */
  private def withPrf(comp: DataFrame, matches: String = "matches",
      cand: String = "cand_total", ref: String = "ref_total"): DataFrame =
    comp
      .withColumn("precision_permille", scaled(col(matches), col(cand), 1000L))
      .withColumn("recall_permille", scaled(col(matches), col(ref), 1000L))
      .withColumn("f1_permille",
        fBeta(col("precision_permille"), col("recall_permille"), 1L))
}
