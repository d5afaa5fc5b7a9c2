package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.compile.SpecCompiler
import graft.spec.StreamSpec
import graft.functions.text.wordsOf

/** Curation tier: quality filtering, decontamination, tokenization, dialogs, mix construction, privacy.
  *
  * One tier of the [[SparkEntry]] contract (round-6 split of the 5.5 kLoC
  * registration file: the `queries`/`oracleSql` MAPS are the contract, the
  * file layout is not). Every `queries` entry here must pair with an
  * `oracleSql` entry of the SAME name in the SAME file - derived oracles
  * (ns_pipeline_funnel) are composed in [[SparkEntry.oracleSql]].
  */
private[graft] object EntriesCuration {
  import EntrySupport._

  /** Shared int8 unit frame for the BERTScore gates: vec_id < 500 → 25
    * pairs of ~10 cand + ~10 ref units each (pair = vec_id div 20, side
    * = parity); `key` = unit_id % 7 gives pseudo token classes with
    * varying document frequency for the idf gate. One construction, so
    * the unweighted and idf gates cannot drift.
    */
  private def bertUnits(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").where(col("vec_id") < 500)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    graft.ops.Similarity.quantizeInt8(e)
      .select(call_function("div", col("id"), lit(20L)).as("pair_id"),
        col("id").as("unit_id"), (col("id") % 7).as("key"),
        col("codes").cast("array<double>").as("vec"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ns_bleu" -> ((s, dir) =>
      // corpus-scale BLEU components over the shared eval-pair frame
      // (even ids: high-overlap truncated-self pairs exercising the clip;
      // odd ids: adjacent-doc pairs exercising the low-overlap regime);
      // the permille geometric mean rides the corrected floor-isqrt grid
      graft.ops.EvalMetrics.bleuComponents(
        evalPairs(s, dir), "pair_id", "cand", "ref")),
    "ns_rouge" -> ((s, dir) =>
      // ROUGE-1/2 recall + P/F1 permille per pair, long by n — same pair
      // frame as ns_bleu so the two gates pin the shared overlap kernel
      graft.ops.EvalMetrics.rougeN(
        evalPairs(s, dir), "pair_id", "cand", "ref", maxN = 2)),
    "ns_chrf" -> ((s, dir) =>
      // character n-gram F (chrF's unit, β=2 column included), texts
      // truncated to 500 chars BEFORE gram extraction (the length² guard)
      graft.ops.EvalMetrics.chrF(
        evalPairs(s, dir), "pair_id", "cand", "ref", maxN = 3, maxChars = 500)),
    "ns_self_bleu" -> ((s, dir) =>
      // corpus self-BLEU (diversity metric): every 40-token-truncated doc
      // against 2 deterministically hash-ring-sampled peers — the oracle
      // replays the portable-hash rank, the global ring offsets, and the
      // shared BLEU component tail (bleuTailSql, the ns_bleu arithmetic)
      graft.ops.EvalMetrics.selfBleu(
        t(s, dir, "documents").select(col("doc_id"),
          concat_ws(" ",
            slice(wordsOf(col("text")), 1, 40)).as("text")),
        "text", "doc_id", peers = 2, seed = "graft-selfbleu")),
    "ns_ter" -> ((s, dir) =>
      // TER-lite: token-level edit distance over the shared eval-pair
      // frame (ASCII-relabeled levenshtein — integer-exact, replayable);
      // 40-token truncation is the TER maxTokens contract, not the
      // evalPairs 60-token gate bound
      graft.ops.EvalMetrics.terComponents(
        evalPairs(s, dir), "pair_id", "cand", "ref", maxTokens = 40)),
    "ns_self_consistency" -> ((s, dir) =>
      // Wang-2022 majority vote over a deterministic sample grid
      // (problem = user bucket, answer = event arithmetic, every 11th
      // sample abstains) — most votes, ties to the smallest answer
      graft.ops.EvalMetrics.selfConsistency(
        t(s, dir, "events").select((col("user_id") % 50).as("problem"),
          when(col("event_id") % 11 === 0, lit(null).cast("long"))
            .otherwise((col("event_id") * 3 + col("user_id")) % 5).as("answer")),
        "problem", "answer")),
    "ns_selfcons_rollup" -> ((s, dir) =>
      // benchmark-level agreement: mean majority share + the 600-permille
      // quorum share over the ns_self_consistency problem set; oracle
      // DERIVED from ns_self_consistency's (SparkEntry.oracleSql)
      graft.ops.EvalMetrics.selfConsistencyRollup(
        graft.ops.EvalMetrics.selfConsistency(
          t(s, dir, "events").select((col("user_id") % 50).as("problem"),
            when(col("event_id") % 11 === 0, lit(null).cast("long"))
              .otherwise((col("event_id") * 3 + col("user_id")) % 5).as("answer")),
          "problem", "answer"),
        quorumPermille = 600L)),
    "ns_pass_at_k" -> ((s, dir) =>
      // Chen-2021 unbiased pass@k over a deterministic sample grid
      // (problem = user bucket, pass = event-id residue — both engines
      // replay the outcomes); the micro fold's compounded floors replay
      // step-for-step in the oracle's list_reduce
      graft.ops.EvalMetrics.passAtK(
        t(s, dir, "events").select((col("user_id") % 50).as("problem"),
          (col("event_id") % 7 < 2).as("passed")),
        "problem", "passed", ks = Seq(1, 5, 10))),
    "ns_gpass" -> ((s, dir) =>
      // Liu-2024 G-Pass@k over the ns_pass_at_k sample grid at the
      // half-majority and all-pass operating points (tau = 1/2, 1):
      // the exact hypergeometric tail, replayed in the oracle with
      // HUGEINT stepwise binomials
      graft.ops.EvalMetrics.gPassAtK(
        t(s, dir, "events").select((col("user_id") % 50).as("problem"),
          (col("event_id") % 7 < 2).as("passed")),
        "problem", "passed", ks = Seq(5, 10), taus = Seq((1, 2), (1, 1)))),
    "ns_gpass_rollup" -> ((s, dir) =>
      // the benchmark-level mean per (k, tau) — the passAtKRollup
      // symmetry; oracle DERIVED from ns_gpass's (SparkEntry.oracleSql)
      graft.ops.EvalMetrics.gPassAtKRollup(
        graft.ops.EvalMetrics.gPassAtK(
          t(s, dir, "events").select((col("user_id") % 50).as("problem"),
            (col("event_id") % 7 < 2).as("passed")),
          "problem", "passed", ks = Seq(5, 10), taus = Seq((1, 2), (1, 1))))),
    "ns_rouge_l" -> ((s, dir) =>
      // ROUGE-L over the shared eval-pair frame: token-LCS expression on
      // the Spark side, recursive-CTE DP (list_reduce row fold) on the
      // oracle side; 40-token truncation bounds both identically
      graft.ops.EvalMetrics.rougeL(
        evalPairs(s, dir), "pair_id", "cand", "ref", maxTokens = 40)),
    // (ns_rouge_l oracle lives below in oracleSql; ns_corpus_* oracles
    // are DERIVED in SparkEntry.oracleSql)
    "ns_corpus_bleu" -> ((s, dir) =>
      // the number papers report: components pooled across pairs FIRST,
      // geo mean over the pooled precisions (micro-average). Oracle is
      // DERIVED from ns_bleu's (SparkEntry.oracleSql) — no drift possible
      graft.ops.EvalMetrics.corpusBleu(
        graft.ops.EvalMetrics.bleuComponents(
          evalPairs(s, dir), "pair_id", "cand", "ref"))),
    "ns_corpus_rouge_l" -> ((s, dir) =>
      // corpus ROUGE-L: pooled LCS over pooled lengths; oracle DERIVED
      // from ns_rouge_l's
      graft.ops.EvalMetrics.corpusRougeL(
        graft.ops.EvalMetrics.rougeL(
          evalPairs(s, dir), "pair_id", "cand", "ref", maxTokens = 40))),
    "ns_corpus_ter" -> ((s, dir) =>
      // corpus TER: pooled edits over pooled reference tokens; oracle
      // DERIVED from ns_ter's
      graft.ops.EvalMetrics.corpusTer(
        graft.ops.EvalMetrics.terComponents(
          evalPairs(s, dir), "pair_id", "cand", "ref", maxTokens = 40))),
    "ns_corpus_chrf" -> ((s, dir) =>
      // corpus chrF — the number sacrebleu reports (corpus-pooled F per
      // char-gram order, not a pair mean); oracle DERIVED from ns_chrf's
      // (SparkEntry.oracleSql) so the pair and corpus views cannot drift
      graft.ops.EvalMetrics.corpusChrf(
        graft.ops.EvalMetrics.chrF(
          evalPairs(s, dir), "pair_id", "cand", "ref", maxN = 3, maxChars = 500))),
    "ns_corpus_rouge_n" -> ((s, dir) =>
      // corpus ROUGE-1/2: pooled clipped matches over pooled totals per
      // n; oracle DERIVED from ns_rouge's
      graft.ops.EvalMetrics.corpusRougeN(
        graft.ops.EvalMetrics.rougeN(
          evalPairs(s, dir), "pair_id", "cand", "ref", maxN = 2))),
    "ns_bleu_multiref" -> ((s, dir) => {
      // sacrebleu-semantics multi-reference BLEU over the shared
      // two-reference frame: per-gram clip against the MAX count over
      // references, brevity-penalty length = closest ref length (ties
      // to the shorter) — the form published multi-ref BLEU uses
      val (cands, refs) = evalMultiRef(s, dir)
      graft.ops.EvalMetrics.bleuComponentsMultiRef(
        cands, refs, "pair_id", "cand", "ref_ord", "ref")
    }),
    "ns_corpus_bleu_multiref" -> ((s, dir) => {
      // the corpus rollup accepts the multi-reference components
      // unchanged (same schema — the round-10 verdict's requirement);
      // oracle DERIVED from ns_bleu_multiref's via the shared pool
      // fragment (SparkEntry.oracleSql)
      val (cands, refs) = evalMultiRef(s, dir)
      graft.ops.EvalMetrics.corpusBleu(
        graft.ops.EvalMetrics.bleuComponentsMultiRef(
          cands, refs, "pair_id", "cand", "ref_ord", "ref"))
    }),
    "ns_rouge_multiref" -> ((s, dir) => {
      // Lin-2004 multi-reference ROUGE-1/2: per-reference scores via the
      // composite (pair, ref_ord) key, then the per-metric max over refs
      val (cands, refs) = evalMultiRef(s, dir)
      graft.ops.EvalMetrics.rougeNMultiRef(
        cands, refs, "pair_id", "cand", "ref_ord", "ref", maxN = 2)
    }),
    "ns_chrf_multiref" -> ((s, dir) => {
      // multi-reference chrF (max over refs, beta=2 column included),
      // texts truncated to 500 chars before gram extraction
      val (cands, refs) = evalMultiRef(s, dir)
      graft.ops.EvalMetrics.chrFMultiRef(
        cands, refs, "pair_id", "cand", "ref_ord", "ref",
        maxN = 3, maxChars = 500)
    }),
    "ns_rouge_l_multiref" -> ((s, dir) => {
      // multi-reference ROUGE-L: per-reference LCS via the composite
      // key, Lin-2004 per-metric max over refs
      val (cands, refs) = evalMultiRef(s, dir)
      graft.ops.EvalMetrics.rougeLMultiRef(
        cands, refs, "pair_id", "cand", "ref_ord", "ref", maxTokens = 40)
    }),
    "ns_ter_multiref" -> ((s, dir) => {
      // multi-reference TER (Snover 2006): min edits over refs, rate
      // over the truncated-average reference length
      val (cands, refs) = evalMultiRef(s, dir)
      graft.ops.EvalMetrics.terMultiRef(
        cands, refs, "pair_id", "cand", "ref_ord", "ref", maxTokens = 40)
    }),
    "ns_passk_rollup" -> ((s, dir) =>
      // benchmark-level pass@k: mean over problems per k (the quoted
      // "pass@1 on the benchmark") + the pass^k all-draws-pass dual, both
      // on the micro grid; oracle DERIVED from ns_pass_at_k's
      graft.ops.EvalMetrics.passAtKRollup(
        graft.ops.EvalMetrics.passAtK(
          t(s, dir, "events").select((col("user_id") % 50).as("problem"),
            (col("event_id") % 7 < 2).as("passed")),
          "problem", "passed", ks = Seq(1, 5, 10)))),
    "ns_bertscore" -> ((s, dir) => {
      // BERTScore-lite on int8 codes (the ns_margin_pairs integer-dot
      // contract: exact arithmetic, engine-replayable scores): vectors
      // group into 25 pairs of ~10 cand + ~10 ref units each (pair =
      // vec_id div 20, side = parity) — per ref unit the best candidate
      // dot, integer means, harmonic F1
      val units = bertUnits(s, dir)
      graft.ops.EvalMetrics.bertScore(
        units.where(col("unit_id") % 2 === 0),
        units.where(col("unit_id") % 2 === 1),
        "pair_id", "unit_id", "vec")
    }),
    "ns_bertscore_idf" -> ((s, dir) => {
      // Zhang-2020's headline configuration: reference-corpus idf
      // weights both means. Same unit construction as ns_bertscore plus
      // a key column (unit_id % 7 — pseudo token classes with varying
      // document frequency); weights = the exactly-replayable rational
      // inverse-frequency table over the REFERENCE side
      val units = bertUnits(s, dir)
      val cand = units.where(col("unit_id") % 2 === 0)
      val ref = units.where(col("unit_id") % 2 === 1)
      graft.ops.EvalMetrics.bertScoreIdf(cand, ref,
        "pair_id", "unit_id", "vec", "key",
        graft.ops.EvalMetrics.idfWeightsMicro(ref, "pair_id", "key"),
        "key", "idf_micro")
    }),
    "ns_distinct_n" -> ((s, dir) =>
      // corpus distinct-1/2 diversity (the cheap self-BLEU companion):
      // distinct word n-grams over total, whole corpus, per n
      graft.ops.EvalMetrics.distinctN(
        t(s, dir, "documents").select(col("text")), "text", maxN = 2)),
    "ns_ngram_novelty" -> ((s, dir) => {
      // RAVEN-style memorization audit: every 10th document plays the
      // "generated" side, the rest are the reference corpus — per doc
      // and n, the share of n-gram instances absent from the reference
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.EvalMetrics.ngramNovelty(
        docs.where(col("doc_id") % 10 === 0), "text", "doc_id",
        docs.where(col("doc_id") % 10 =!= 0), "text", maxN = 2)
    }),
    "ns_corpus_novelty" -> ((s, dir) => {
      // the quotable rollup ("x permille of emitted bigrams are new");
      // oracle DERIVED from ns_ngram_novelty's (SparkEntry.oracleSql)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.EvalMetrics.corpusNovelty(
        graft.ops.EvalMetrics.ngramNovelty(
          docs.where(col("doc_id") % 10 === 0), "text", "doc_id",
          docs.where(col("doc_id") % 10 =!= 0), "text", maxN = 2))
    }),
    "ns_paired_bootstrap" -> ((s, dir) => {
      // Koehn-2004 paired bootstrap over corpus BLEU: the gate's two
      // "systems" are a deterministic construction — even pairs' BLEU
      // components vs the adjacent odd pairs' mapped onto the same item
      // key — so the oracle DERIVES wholly from ns_bleu's SQL and the
      // frozen Poisson cut table (SparkEntry.oracleSql)
      val comp = graft.ops.EvalMetrics.bleuComponents(
        evalPairs(s, dir), "pair_id", "cand", "ref")
      graft.ops.EvalMetrics.pairedBootstrapBleu(
        comp.where(col("pair_id") % 2 === 0),
        comp.where(col("pair_id") % 2 === 1)
          .withColumn("pair_id", col("pair_id") - 1L),
        replicates = 32)
    }),
    "ns_paired_bootstrap_rouge" -> ((s, dir) => {
      // the metric-agnostic paired bootstrap over ROUGE-L F1 (same
      // even/odd two-system construction as ns_paired_bootstrap; the
      // paired weights make the verdict division-free — both systems
      // share each replicate's weight sum); oracle DERIVED from
      // ns_rouge_l's SQL (SparkEntry.oracleSql)
      val rl = graft.ops.EvalMetrics.rougeL(
        evalPairs(s, dir), "pair_id", "cand", "ref", maxTokens = 40)
      graft.ops.EvalMetrics.pairedBootstrapMetric(
        rl.where(col("pair_id") % 2 === 0),
        rl.where(col("pair_id") % 2 === 1)
          .withColumn("pair_id", col("pair_id") - 1L),
        "pair_id", "f1_permille", replicates = 32)
    }),
    "ns_paired_bootstrap_ci" -> ((s, dir) => {
      // Koehn-2004 95% CI of the corpus-BLEU delta: the verdict gate's
      // per-replicate frame (same systems, same frozen cut table),
      // sorted, 25 permille dropped each side — the interval sacrebleu
      // prints next to the p-value; oracle DERIVED from ns_bleu's SQL
      // via the shared bleuBootstrapRepsSql fragment the verdict gate
      // also reduces (SparkEntry.oracleSql)
      val comp = graft.ops.EvalMetrics.bleuComponents(
        evalPairs(s, dir), "pair_id", "cand", "ref")
      graft.ops.EvalMetrics.bootstrapDeltaCi(
        graft.ops.EvalMetrics.pairedBootstrapBleuReplicates(
          comp.where(col("pair_id") % 2 === 0),
          comp.where(col("pair_id") % 2 === 1)
            .withColumn("pair_id", col("pair_id") - 1L),
          replicates = 32),
        "delta")
    }),
    "ns_paired_bootstrap_rouge_ci" -> ((s, dir) => {
      // the metric-agnostic twin's CI on the milli grid (weighted-mean
      // delta of ROUGE-L F1); oracle DERIVED from ns_rouge_l's SQL via
      // the shared metricBootstrapRepsSql fragment
      val rl = graft.ops.EvalMetrics.rougeL(
        evalPairs(s, dir), "pair_id", "cand", "ref", maxTokens = 40)
      graft.ops.EvalMetrics.bootstrapDeltaCi(
        graft.ops.EvalMetrics.pairedBootstrapMetricReplicates(
          rl.where(col("pair_id") % 2 === 0),
          rl.where(col("pair_id") % 2 === 1)
            .withColumn("pair_id", col("pair_id") - 1L),
          "pair_id", "f1_permille", replicates = 32),
        "delta_milli")
    }),
    "ns_mcnemar" -> ((s, dir) =>
      // McNemar over paired pass/fail outcomes: two deterministic
      // "systems" on the same event ids (A = mod-7 rule, B = mod-5 rule
      // with every 13th outcome NULL — exercising the visible
      // abstention drop); only discordant pairs move the statistic
      graft.ops.EvalMetrics.mcnemarTest(
        t(s, dir, "events").select(col("event_id").as("pair_id"),
          (col("event_id") % 7 < 2).as("passed")),
        t(s, dir, "events").select(col("event_id").as("pair_id"),
          when(col("event_id") % 13 === 0, lit(null).cast("boolean"))
            .otherwise(col("event_id") % 5 < 2).as("passed")),
        "pair_id", "passed")),
    "ns_approx_rand" -> ((s, dir) => {
      // Riezler-Maxwell approximate randomization (sign-flip
      // permutation) over ROUGE-L F1 — the same even/odd two-system
      // construction as the bootstrap gates, a different frozen-draw
      // seed ('graft-ar' flip bits); oracle DERIVED from ns_rouge_l's
      // SQL (SparkEntry.oracleSql)
      val rl = graft.ops.EvalMetrics.rougeL(
        evalPairs(s, dir), "pair_id", "cand", "ref", maxTokens = 40)
      graft.ops.EvalMetrics.approxRandomization(
        rl.where(col("pair_id") % 2 === 0),
        rl.where(col("pair_id") % 2 === 1)
          .withColumn("pair_id", col("pair_id") - 1L),
        "pair_id", "f1_permille", replicates = 32)
    }),
    "ns_incremental_novelty" -> ((s, dir) => {
      // continuous-ingest novelty: the reference gram set is a prebuilt
      // persistable index (NoveltyIndex carries maxN so an order
      // mismatch is unrepresentable); the batch pays only its own gram
      // volume x one anti-join — a different split (mod 7) than
      // ns_ngram_novelty so the two gates don't collapse to one query
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.EvalMetrics.incrementalNovelty(
        docs.where(col("doc_id") % 7 === 0), "text", "doc_id",
        graft.ops.EvalMetrics.noveltyIndex(
          docs.where(col("doc_id") % 7 =!= 0), "text", maxN = 2))
    }),
    "ns_seq_rep_n" -> ((s, dir) =>
      // Welleck-2020 rep-n degeneration diagnostic: per doc and n, the
      // share of n-gram instances repeating an earlier one — zero
      // shuffle, row-local distinct
      graft.ops.EvalMetrics.seqRepN(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", maxN = 2)),
    "ns_corpus_self_bleu" -> ((s, dir) =>
      // corpus self-BLEU — the diversity number Zhu-2018 actually quotes
      // (pooled over the ring pairs, not a pair mean); oracle DERIVED
      // from ns_self_bleu's via the shared corpus pool fragment
      graft.ops.EvalMetrics.corpusBleu(
        graft.ops.EvalMetrics.selfBleu(
          t(s, dir, "documents").select(col("doc_id"),
            concat_ws(" ",
              slice(wordsOf(col("text")), 1, 40)).as("text")),
          "text", "doc_id", peers = 2, seed = "graft-selfbleu"))),
    "ns_bradley_terry" -> ((s, dir) =>
      // global leaderboard strength over the same judgment stream the
      // Copeland gate ranks: 3 MM rounds in micro-units, max-norm per
      // round — the oracle unrolls the identical integer arithmetic
      graft.ops.Curation.bradleyTerry(
        t(s, dir, "events").select((col("event_id") % 9).as("winner"),
          ((col("event_id") * 7 + 3) % 9).as("loser")),
        "winner", "loser", iters = 3)),
    "ns_preference_pairs" -> ((s, dir) =>
      // RLHF pair construction: per user (the prompt proxy) the best- and
      // worst-scored events become (chosen, rejected), gap-gated at one
      // dollar; ties break to the smallest event id on both sides — one
      // partial-agg groupBy, replayed by the oracle as two rank windows
      graft.ops.Curation.preferencePairsFromScores(
        t(s, dir, "events").select(col("user_id").as("prompt"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents")),
        "prompt", "event_id", "cents", minGap = 100L)),
    "ns_pack_efficiency" -> ((s, dir) => {
      // packing QA over the ns_pack layout: per (group, bin) fill/waste
      // against the 128-token budget; the oracle derives from ns_pack's
      // recursive replay (SparkEntry.oracleSql), so the two cannot drift
      val chunks = graft.ops.Curation.chunkByTokens(t(s, dir, "documents"),
        "text", "doc_id", size = 32, overlap = 8)
      graft.ops.Curation.packEfficiency(
        graft.ops.Curation.packSequences(chunks, "n_chunk_tokens",
          Seq("doc_id", "chunk_idx"), budget = 128, nGroups = 8),
        Seq("pack_group", "bin_idx"), "n_tokens", budget = 128L)
    }),
    "ns_mix_value" -> ((s, dir) => {
      // end-to-end mix-planning capstone: quality-filter the corpus,
      // plan a repetition mix over the SURVIVORS against a token budget,
      // then value the repetition in fresh-token terms — three operators
      // composed; the oracle chains qualityFilterSql + the plan replay +
      // the d=500 halving identity so no stage can drift
      val docs = t(s, dir, "documents")
      val qf = graft.ops.Curation.qualityFilter(docs, "text", "doc_id",
        minWords = 30, maxWords = 10000, minMeanWordLen = 4.0, maxMeanWordLen = 10.0,
        minStopwordHits = 2, minAlphaWordFrac = 0.9,
        maxDupLineFrac = 0.05, maxDupLineCharFrac = 0.05,
        maxDup2gramFrac = 0.08, maxDup3gramFrac = 0.04, lineLen = 2)
      val stats = qf.where(col("keep"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang").as("stratum"))
        .agg(sum(col("n_words")).as("tokens"))
      val plan = graft.ops.Curation.epochPlan(stats, "stratum", "tokens",
        targetPermille = Map("en" -> 300, "de" -> 300, "es" -> 200, "fr" -> 200),
        budgetTokens = 60000L, maxEpochsMilli = 4000L)
      graft.ops.Curation.repeatedEpochValue(plan, "stratum", "tokens",
        "epochs_milli", decayPermille = 500L)
    }),
    "ns_epoch_value" -> ((s, dir) => {
      // datablations-style effective-token audit of the ns_epoch_plan
      // repetition plan: epoch e is worth 500-permille^e of fresh data;
      // the oracle derives from the plan oracle (SparkEntry.oracleSql)
      // and replays the d=500 fold via the exact-halving identity
      val stats = t(s, dir, "documents")
        .groupBy(col("lang").as("stratum"))
        .agg(sum(graft.ops.TextAnalysis.wsTokenCount(col("text"))).as("tokens"))
      val plan = graft.ops.Curation.epochPlan(stats, "stratum", "tokens",
        targetPermille = Map("en" -> 200, "de" -> 450, "es" -> 250, "fr" -> 100),
        budgetTokens = 30000L, maxEpochsMilli = 2500L)
      graft.ops.Curation.repeatedEpochValue(plan, "stratum", "tokens",
        "epochs_milli", decayPermille = 500L)
    }),
    "ns_split_leakage" -> ((s, dir) =>
      // train/eval fence audit: contiguous doc blocks of 20 as the
      // leakage unit, split assignment flipping every 50 ids — blocks
      // straddling a mid-block flip (250, 450, ...) leak; both engines
      // replay the arithmetic assignment
      graft.ops.Curation.splitLeakageAudit(
        t(s, dir, "documents").select(
          call_function("div", col("doc_id"), lit(20L)).as("blk"),
          when(call_function("div", col("doc_id"), lit(50L)) % 5 < 4, lit("train"))
            .otherwise(lit("val")).as("split")),
        "blk", "split")),
    "ns_pref_consistency" -> ((s, dir) =>
      // preference-graph QA: judgments derived arithmetically from events
      // (prompt = user bucket, winner/loser = event_id residues) so both
      // engines replay the tournament; contradictions, ties, and
      // majority-graph 3-cycles per prompt
      graft.ops.Curation.preferenceConsistency(
        t(s, dir, "events").select((col("user_id") % 30).as("prompt"),
          (col("event_id") % 9).as("winner"),
          ((col("event_id") * 7 + 3) % 9).as("loser")),
        "prompt", "winner", "loser")),
    "ns_copeland" -> ((s, dir) =>
      // cycle-tolerant best-of-k ranking over the same judgment stream:
      // wins - losses in the strict-majority tournament, rank per prompt
      graft.ops.Curation.copelandScores(
        t(s, dir, "events").select((col("user_id") % 30).as("prompt"),
          (col("event_id") % 9).as("winner"),
          ((col("event_id") * 7 + 3) % 9).as("loser")),
        "prompt", "winner", "loser")),
    "ns_waterfill" -> ((s, dir) =>
      // mixture planning under supply caps: per-language token supply,
      // weights from a deterministic hash of the language tag, budget
      // 24000 — small languages cap and the surplus waterfalls to the
      // big ones; the oracle replays the closed form in HUGEINT
      graft.ops.Curation.waterfillPlan(
        t(s, dir, "documents").groupBy(col("lang"))
          .agg(sum(call_function("div", col("n_chars"), lit(5L))).as("toks"))
          .select(col("lang"), col("toks"),
            (lit(1L) + ascii(col("lang")) % 7).as("w")),
        "lang", "toks", "w", budgetTokens = 24000L)),
    "ns_temperature_mix" -> ((s, dir) => {
      // multilingual temperature sampling (mC4/XLM-R): per-language token
      // supply re-weighted at every quarter-power alpha — 1/4 exercises the
      // isqrt∘isqrt composition, 3/4 the composite floor (isqrt of a
      // 38-digit product), 4/4 natural sampling; all replay in DuckDB via
      // the corrected floor-sqrt recipe
      val stats = t(s, dir, "documents").groupBy(col("lang"))
        .agg(sum(call_function("div", col("n_chars"), lit(5L))).as("toks"))
      Seq(1, 2, 3, 4).map(q =>
        graft.ops.Curation.temperatureMixture(stats, "lang", "toks",
          alphaQuarters = q, budgetTokens = 1000000L)
          .withColumn("alpha_quarters", lit(q.toLong)))
        .reduce(_.unionByName(_))
    }),
    "ns_canary_insert" -> ((s, dir) =>
      // memorization-audit governance: plant hash-deterministic canary
      // tokens into a 200-permille slice; unselected docs pass verbatim
      graft.ops.Curation.insertCanaries(t(s, dir, "documents"),
        "text", "doc_id", ratePermille = 200)),
    "ns_canary_recall" -> ((s, dir) => {
      // the measurement half: docs with id % 3 == 0 play the generations;
      // per planted canary, hit count + found. The oracle derives both
      // sides from the SAME insertion replay (canaryInsertSql)
      val ins = graft.ops.Curation.insertCanaries(t(s, dir, "documents"),
        "text", "doc_id", ratePermille = 200)
      graft.ops.Curation.canaryRecall(
        ins.filter(col("doc_id") % 3 === 0).select(col("text_out")),
        "text_out", ins.filter(col("has_canary")), "canary")
    }),
    "ns_quality_classifier" -> ((s, dir) => {
      // Model-based quality filtering (fastText/logreg analog): score every
      // document with the FROZEN trained linear model — integer dot over
      // portable hashed unigram features + integer margin sign, so the
      // decision itself replays in DuckDB. Training provenance is pinned
      // by ClassifierSpec (re-derives the frozen weights from sf0.001).
      val model = graft.ops.Classifier.QualityModel(
        FrozenQualityWeightsMicro, FrozenQualityBiasMicro,
        buckets = 64, maxN = 1)
      graft.ops.Classifier.score(t(s, dir, "documents"), model, "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_feats"), col("dot_micro"),
          col("predicted"))
    }),
    "ns_dialog_audit" -> ((s, dir) => {
      // SFT transcript hygiene: dialogs assembled deterministically from
      // the event stream (role by event_id parity, empties and special-
      // token leaks injected by modulus), audited with the array-HOF
      // operator; the oracle computes the same checks in row form
      // (arg_min/arg_max + lag window) — two independent formulations of
      // the same contract.
      val e = t(s, dir, "events")
        .where(col("user_id") % 20 === 3)
        .select(col("user_id"), col("event_id"),
          when(col("event_id") % 2 === 0, lit("user"))
            .otherwise(lit("assistant")).as("role"),
          when(col("event_id") % 97 === 0, lit(""))
            .when(col("event_id") % 53 === 0,
              concat(col("event_type"), lit(" <|endoftext|>")))
            .otherwise(col("event_type")).as("content"))
      val dialogs = graft.ops.Curation.assembleDialogs(e, "user_id",
        "event_id", "role", "content")
      graft.ops.Curation.dialogAudit(dialogs, "user_id", "msgs")
    }),
    "ns_token_budget" -> ((s, dir) =>
      // best-data-that-fits: per source, highest-scoring docs until the
      // token budget; strict prefix, slim window exchange
      graft.ops.Curation.selectByTokenBudget(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").as("score"),
          call_function("div", col("n_chars"), lit(5L)).as("toks")),
        Seq("source"), "doc_id", "score", "toks", tokenBudget = 3000L)),
    "ns_preference_audit" -> ((s, dir) => {
      // synthetic preference pairs from the corpus: every 7th rejected is
      // byte-identical to chosen, every 11th is emptied, the rest get a
      // word swap; the audit flags each failure class
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        col("text").as("chosen"),
        when(col("doc_id") % 7 === 0, col("text"))
          .when(col("doc_id") % 11 === 0, lit(""))
          .otherwise(replace(col("text"), lit("value"), lit("worth")))
          .as("rejected"))
      graft.ops.Curation.preferencePairAudit(pairs, "doc_id",
        "chosen", "rejected")
    }),
    "ns_span_corrupt" -> ((s, dir) =>
      // T5-style sentinel masking at 150 permille, 3-token spans; the
      // oracle replays the fold as a recursive CTE over token positions
      // carrying (next-free, sentinel counter, both accumulating strings)
      graft.ops.Curation.spanCorrupt(t(s, dir, "documents"), "doc_id",
        "text", startPermille = 150, spanLen = 3)),
    "ns_word_dropout" -> ((s, dir) =>
      // deterministic 200-permille token corruption; the oracle recomputes
      // the per-(doc, position) portable hash with DuckDB's 1-based lambda
      // index shifted to Spark's 0-based
      graft.ops.Curation.wordDropout(t(s, dir, "documents"), "doc_id",
        "text", dropPermille = 200)),
    "ns_dialog_pipeline" -> ((s, dir) => {
      // SFT capstone: assemble -> audit-filter (no empty turns, <= 1
      // template leak) -> per-turn redact -> turn-aligned pack at budget
      // 9; one grouping exchange total, everything downstream is
      // projections. The oracle derives from the audit/redact/pack
      // fragments in row form, so the composition cannot drift from the
      // single-op gates.
      val e = t(s, dir, "events").where(col("user_id") % 20 === 3)
        .select(col("user_id"), col("event_id"),
          when(col("event_id") % 2 === 0, lit("user"))
            .otherwise(lit("assistant")).as("role"),
          concat(
            when(col("event_id") % 97 === 0, lit(""))
              .when(col("event_id") % 53 === 0,
                concat(col("event_type"), lit(" <|endoftext|>")))
              .otherwise(col("event_type")),
            when(col("event_id") % 3 === 0,
              concat(lit(" mail u"), col("event_id"), lit("@ex.com")))
              .otherwise(lit(""))).as("content"))
      val dialogs = graft.ops.Curation.assembleDialogs(e, "user_id",
        "event_id", "role", "content")
      val audit = graft.ops.Curation.dialogAudit(dialogs, "user_id", "msgs")
      val keep = audit.where(col("n_empty") === 0 && col("n_special") <= 1)
        .select("user_id")
      val clean = dialogs.join(keep, Seq("user_id"), "left_semi")
      val red = clean.select(col("user_id"),
        graft.ops.Curation.redactDialog(col("msgs")).as("msgs"))
      graft.ops.Curation.packDialog(red, "user_id", "msgs", tokenBudget = 9L)
    }),
    "ns_dialog_pack" -> ((s, dir) => {
      // turn-aligned greedy packing at budget 7; turn token counts are
      // deterministic (event_id % 5 + 1 repeats of the event type), and
      // the oracle replays the fold as a recursive CTE over turn positions
      val e = t(s, dir, "events").where(col("user_id") % 20 === 3)
        .select(col("user_id"), col("event_id"),
          when(col("event_id") % 2 === 0, lit("user"))
            .otherwise(lit("assistant")).as("role"),
          repeat(concat(col("event_type"), lit(" ")),
            (col("event_id") % 5 + 1).cast("int")).as("content"))
      val dialogs = graft.ops.Curation.assembleDialogs(e, "user_id",
        "event_id", "role", "content")
      graft.ops.Curation.packDialog(dialogs, "user_id", "msgs", tokenBudget = 7L)
    }),
    "ns_dialog_redact" -> ((s, dir) => {
      // per-turn PII redaction inside assembled dialogs; output scalarizes
      // via posexplode (the compare harness hashes scalars only) and the
      // oracle replays the regexp chain in row form with row_number-1 pos
      val e = t(s, dir, "events").where(col("user_id") % 20 === 3)
        .select(col("user_id"), col("event_id"),
          when(col("event_id") % 2 === 0, lit("user"))
            .otherwise(lit("assistant")).as("role"),
          concat(col("event_type"),
            when(col("event_id") % 3 === 0,
              concat(lit(" mail u"), col("event_id"), lit("@ex.com")))
              .otherwise(lit("")),
            when(col("event_id") % 5 === 0,
              concat(lit(" ip 10.0.0."), col("event_id") % 256))
              .otherwise(lit(""))).as("content"))
      val dialogs = graft.ops.Curation.assembleDialogs(e, "user_id",
        "event_id", "role", "content")
      dialogs.select(col("user_id"),
          posexplode(graft.ops.Curation.redactDialog(col("msgs")))
            .as(Seq("pos", "m")))
        .select(col("user_id"), col("pos"),
          col("m.role").as("role"), col("m.content").as("content"))
    }),
    "ns_chunk" -> ((s, dir) =>
      // training-sequence chunking: 32-token windows, 8-token overlap
      graft.ops.Curation.chunkByTokens(t(s, dir, "documents"), "text", "doc_id",
        size = 32, overlap = 8)),
    "ns_pack" -> ((s, dir) => {
      // chunk → pack pipeline: 32-token chunks greedily packed into
      // 128-token context windows across 8 hash pack-groups. Every slot
      // assignment (group, bin, offset) is deterministic, so the oracle
      // replays the same next-fit recurrence in SQL.
      val chunks = graft.ops.Curation.chunkByTokens(t(s, dir, "documents"),
        "text", "doc_id", size = 32, overlap = 8)
      graft.ops.Curation.packSequences(chunks, "n_chunk_tokens",
        Seq("doc_id", "chunk_idx"), budget = 128, nGroups = 8)
    }),
    "ns_ldiversity" -> ((s, dir) => {
      // attribute-disclosure audit: customers whose order-status history
      // carries < 3 distinct values — k-anonymity-safe classes the
      // diversity audit still flags
      graft.ops.Curation.lDiversityAudit(t(s, dir, "orders"),
        Seq("o_custkey"), "o_orderstatus", l = 3)
    }),
    "ns_tcloseness" -> ((s, dir) => {
      // distribution-skew disclosure audit: order-priority classes whose
      // status mix sits > 5 permille total-variation from the global mix —
      // exact decimal cross products, one integral divide, so membership
      // (not just the distance) replays bit-for-bit
      graft.ops.Curation.tClosenessAudit(t(s, dir, "orders"),
        Seq("o_orderpriority"), "o_orderstatus", tPermille = 5L)
    }),
    "ns_trim_tokens" -> ((s, dir) =>
      // context-budget truncation: first 50 whitespace tokens, single-space
      // rejoin (the normalize-family whitespace convention), with counts
      // and the truncation flag — pure scan-stage projection
      graft.ops.Curation.trimToTokens(t(s, dir, "documents"), "text",
        "doc_id", maxTokens = 50)),
    "ns_split" -> ((s, dir) =>
      // deterministic 80/10/10 split assignment by portable id hash
      graft.ops.Curation.assignSplit(t(s, dir, "documents"), "doc_id")
        .select("doc_id", "split")),
    "ns_epoch_shuffle" -> ((s, dir) =>
      // deterministic training-order permutation: dense 0-based rank in
      // (portable-hash, id) order, computed with the bucketed two-level
      // rank (never a global window). The oracle IS the global window —
      // one row_number over the same hash — so the distributed ranking
      // must agree with the single-node definition exactly.
      graft.ops.Curation.epochShuffle(t(s, dir, "documents"), "doc_id", epoch = 1)
        .select(col("doc_id"), col("shuffle_pos"))),
    "ns_boilerplate" -> ((s, dir) => {
      // restructure into 5-word lines (same convention as ns_line_dedup),
      // then drop boilerplate lines: < 3 words or stopword ratio < 10%
      val d = t(s, dir, "documents")
      val structured = d.select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "((?:\\S+ ){4}\\S+) ", "$1\n").as("text"))
      graft.ops.Curation.removeBoilerplate(structured, "text", "doc_id", "\n",
        minWords = 3, minStopPermille = 100)
    }),
    "ns_dsir" -> ((s, dir) => {
      // DSIR importance machinery, integer-exact subset: hashed 1..2-gram
      // bucket counts (portable hashes) dotted with the global target
      // (lang='de') and raw bucket totals. The ln-based score column is
      // excluded here — libm differences across engines make it
      // non-hash-comparable — and is property-gated in CurationSpec.
      val d = t(s, dir, "documents")
      graft.ops.Curation.dsirScores(d, d.filter(col("lang") === "de"),
        "text", "doc_id", buckets = 1024)
        .select("doc_id", "n_feats", "t_hits", "r_hits")
    }),
    "ns_lm_score" -> ((s, dir) => {
      // CCNet-style LM quality scoring, integer-exact subset: a
      // stupid-backoff bigram model trained on the even-id half of the
      // corpus scores every document. The ln-based micronat/ppl columns
      // are engine-local (libm differences are not hash-comparable) and
      // are gated by LmSpec's driver-side replay; the oracle pins the
      // exact join layer — token/OOV/bigram-hit counts and count sums.
      val d = t(s, dir, "documents")
      val model = graft.ops.Lm.train(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "text")
      graft.ops.Lm.score(d, "text", "doc_id", model)
        .select("doc_id", "n_tokens", "n_oov", "n_hits", "sum_cb", "sum_cw")
    }),
    "ns_bpe_fertility" -> ((s, dir) =>
      // tokenizer-fairness audit: bytes-per-token by language under the
      // frozen merges — shared encode CTEs with ns_bpe
      graft.ops.Bpe.fertilityByGroup(t(s, dir, "documents"), "text", "lang",
        FrozenBpeMerges)),
    "ns_bpe" -> ((s, dir) => {
      // frozen BPE tokenizer (trained once on the sf0.001 corpus via
      // Bpe.learnFromCorpus, then applied everywhere — the standard
      // train-small/apply-everywhere tokenizer lifecycle). Encoding ships
      // the merge ranks in the task closure and runs as a zero-shuffle
      // scan; the oracle replays the same merges in rank order as a
      // DuckDB replace() chain, which is provably equivalent to the
      // iterative lowest-rank encoder for learned merge tables (a merge
      // can only create pairs of strictly higher rank).
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        posexplode(graft.ops.Bpe.encode(col("text"), FrozenBpeMerges))
          .as(Seq("pos", "token")))
    }),
    // ---- corpus curation (training-mix construction) ----
    "ns_pii_redact" -> ((s, dir) => {
      // PII is injected deterministically from doc_id (the corpus itself is
      // PII-free word soup), so detection counts vary 0/1 per category and
      // the redaction output is fully oracle-checkable.
      val d = t(s, dir, "documents")
      val injected = d.select(col("doc_id"), concat(
        col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"), lit("@ex.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" call +1-555-123-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" card 4111"), lpad(col("doc_id").cast("string"), 12, "0"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".0."), pmod(col("doc_id"), lit(100)).cast("string"))).otherwise(lit(""))
      ).as("text"))
      injected.select(col("doc_id"),
        graft.ops.Curation.piiStats(col("text")).as("p"),
        graft.ops.Curation.redactPii(col("text")).as("redacted"))
        .select(col("doc_id"), col("p.n_emails").as("n_emails"), col("p.n_phones").as("n_phones"),
          col("p.n_ccs").as("n_ccs"), col("p.n_ips").as("n_ips"), col("redacted"))
    }),
    "ns_decontaminate" -> ((s, dir) => {
      // benchmark = every 17th doc (an "eval set"); corpus = the rest.
      // 4-word grams give a non-trivial contamination rate on this corpus.
      val d = t(s, dir, "documents")
      graft.ops.Curation.decontaminate(
        d.filter(pmod(col("doc_id"), lit(17)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(17)) === 0),
        "text", "doc_id", n = 4)
    }),
    "ns_split_by_cluster" -> ((s, dir) => {
      // leakage-free split gate on a deterministic synthetic clustering
      // (%37): members of one cluster must share a split label; docs
      // outside the cluster table band by their own id
      val d = t(s, dir, "documents")
      val clusters = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("id"), (col("doc_id") % 37).as("cluster_id"))
      graft.ops.Curation.assignSplitByCluster(
          d.select(col("doc_id"), col("lang")), "doc_id", clusters)
        .select(col("doc_id"), col("lang"), col("split"))
    }),
    "ns_contamination_report" -> ((s, dir) => {
      // per-source rollup of the same benchmark split ns_decontaminate
      // pins — the release-gate number, with shared gram semantics
      val d = t(s, dir, "documents")
      graft.ops.Curation.contaminationReport(
        d.filter(pmod(col("doc_id"), lit(17)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(17)) === 0),
        "text", "doc_id", "source", n = 4)
    }),
    "ns_badwords" -> ((s, dir) => {
      // Blocklist term matching: one Aho-Corasick pass per doc counting
      // every (overlapping) occurrence of each term plus the distinct-term
      // count. Terms deliberately include a phrase, a high-frequency
      // single char (matches inside words — substring semantics are the
      // contract), and an absent term. The oracle replays with a
      // positional substring scan per term.
      graft.ops.TextAnalysis.termMatchStats(t(s, dir, "documents"),
        "text", "doc_id",
        terms = Seq("big table", "slow", "a", "nosuchterm"), minMatches = 3)
    }),
    "ns_decontaminate_bloom" -> ((s, dir) => {
      // The Bloom-prefiltered tier of decontamination (the 100 TB path:
      // benchmark grams become a fixed-size bit filter checked map-side;
      // only candidate survivors enter the exact join that kills the
      // filter's false positives). EXACTNESS is the operator's contract —
      // no false negatives, FPs removed — so the oracle is the plain
      // distinct-overlap count restricted to hit docs, identical to
      // ns_decontaminate's construction minus the zero-hit rows.
      val d = t(s, dir, "documents")
      graft.ops.Curation.decontaminateBloom(
        d.filter(pmod(col("doc_id"), lit(17)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(17)) === 0),
        "text", "doc_id", n = 4)
    }),
    "ns_align_scores" -> ((s, dir) => {
      // quantile recalibration gate: per-language n_chars ranks map onto
      // the reference sample's (doc_id < 100) distribution — rank-to-rank
      // integer selection, aligned values are reference multiset members
      val docs = t(s, dir, "documents")
      graft.ops.Curation.alignScores(docs, "n_chars", "doc_id",
        Seq("lang"), docs.filter(col("doc_id") < 100), "n_chars")
    }),
    "ns_filter_funnel" -> ((s, dir) =>
      // per-rule kill attribution in application order, one scan: chars
      // floor, language allowlist, approximate word floor — n_killed sums
      // to exactly input minus survivors
      graft.ops.Curation.filterFunnel(t(s, dir, "documents"), Seq(
        "min_chars" -> (col("n_chars") >= 100),
        "lang_ok" -> (col("lang") =!= "zh"),
        "min_words" -> (length(col("text"))
          - length(translate(col("text"), " ", "")) + 1 >= 30)))),
    "ns_quality_filter" -> ((s, dir) =>
      // thresholds chosen so each rule actually splits this corpus
      // (106 short docs, 6 low-MWL, 112 low-stopword, 181 with dup 2-token
      // lines at sf0.01); lineLen=2 exercises the duplicate-line rules.
      graft.ops.Curation.qualityFilter(t(s, dir, "documents"), "text", "doc_id",
        minWords = 30, maxWords = 10000, minMeanWordLen = 4.0, maxMeanWordLen = 10.0,
        minStopwordHits = 2, minAlphaWordFrac = 0.9,
        maxDupLineFrac = 0.05, maxDupLineCharFrac = 0.05,
        maxDup2gramFrac = 0.08, maxDup3gramFrac = 0.04, lineLen = 2)),
    "ns_repetition" -> ((s, dir) =>
      // Gopher repetition signals (top-2/3/4-gram + dup-5..10-gram char
      // fractions). Top thresholds tightened from Gopher's table-A1 values
      // so keep actually splits this corpus (352/500 at sf0.01); dup
      // thresholds stay Gopher's (this corpus has no 5-gram repeats, the
      // fractions themselves are still hashed).
      graft.ops.Curation.repetitionFilter(t(s, dir, "documents"), "text", "doc_id",
        maxTopFracs = Seq(0.05, 0.04, 0.04))),
    "ns_percentile_rank" -> ((s, dir) =>
      // cross-domain score calibration: per-language integer per-mille
      // percentile of a length score — rank*1000 div (n-1), ties by id
      graft.ops.Curation.percentileRank(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("score")),
        "score", "doc_id", Seq("lang"))),
    "ns_epoch_plan" -> ((s, dir) => {
      // Token-budgeted epoch plan over per-language corpus stats: with a
      // 30k budget and a 2.5-epoch repetition cap, the de target (450‰)
      // is cap-limited (shortfall > 0), en/es/fr are satisfiable, and zh
      // is untargeted (audit row). All-integer → full DuckDB replay.
      val stats = t(s, dir, "documents")
        .groupBy(col("lang").as("stratum"))
        .agg(sum(graft.ops.TextAnalysis.wsTokenCount(col("text"))).as("tokens"))
      graft.ops.Curation.epochPlan(stats, "stratum", "tokens",
        targetPermille = Map("en" -> 200, "de" -> 450, "es" -> 250, "fr" -> 100),
        budgetTokens = 30000L, maxEpochsMilli = 2500L)
    }),
    "ns_sample_stratified" -> ((s, dir) => {
      // deterministic training-mix sampling: per-language per-mille rates
      // (mode=rate) and an exact per-language quota (mode=quota), both
      // driven by the portable md5 hash so DuckDB reproduces membership.
      val d = t(s, dir, "documents")
      val rates = Map("en" -> 250, "de" -> 900, "es" -> 500, "fr" -> 750, "zh" -> 100)
      graft.ops.Curation.stratifiedSample(d, "doc_id", "lang", rates, defaultPermille = 0)
        .select(lit("rate").as("mode"), col("doc_id"), col("lang"))
        .unionByName(
          graft.ops.Curation.stratifiedQuota(d, "doc_id", "lang", quota = 20)
            .select(lit("quota").as("mode"), col("doc_id"), col("lang")))
    }),
    "ns_normalize" -> ((s, dir) => {
      // Canonical text normalization gate: both engines build the SAME
      // messy variant of every document (tabs, NBSP, a control char,
      // a unicode line separator, double spaces, mixed case appended)
      // and must normalize it to the identical canonical string.
      val docs = t(s, dir, "documents")
      // literals, not chr(): Spark's chr wraps at 256 (chr(8232) = "("),
      // DuckDB's chr is by codepoint — the SQL side uses chr(codepoint)
      val messy = concat(
        lit("\t"), col("text"), lit("  "),
        lit("\u00a0"), lit("MiXeD  CASE"),
        lit("\u0007"), lit("\u2028"),
        lit(" tail "))
      docs.select(col("doc_id"),
        graft.ops.TextAnalysis.normalizeText(messy).as("norm"))
    }),
    "ns_decontaminate_neardup" -> ((s, dir) => {
      // Near-dup decontamination: docs < 250 play the benchmark, the rest
      // the corpus; exhaustive buckets so the oracle
      // replays the banded candidate generation and the Jaccard threshold
      // exactly (same shared fragments as the other minhash gates).
      val docs = t(s, dir, "documents")
      graft.ops.Curation.decontaminateNearDup(
        docs.filter(col("doc_id") >= 250).select("doc_id", "text"),
        docs.filter(col("doc_id") < 250),
        "text", "doc_id", minJaccard = 0.5)
        .select(col("doc_id"), col("contaminated"))
    }),
    "ns_decontaminate_embed" -> ((s, dir) => {
      // Semantic decontamination tier: vectors < 25 play the benchmark;
      // per corpus vector its max integer-cosine over the benchmark, the
      // deterministic argmax, and the flag at 990 permille
      val e = t(s, dir, "embeddings")
      graft.ops.Curation.decontaminateEmbedding(e,
        e.filter(col("vec_id") < 25), "embedding", "vec_id",
        minCosPermille = 990L, dim = 64)
    }),
    "ns_kanon_audit" -> ((s, dir) =>
      // re-identification risk audit: (nation, segment) classes smaller
      // than k=10 — classes out, never rows
      graft.ops.Curation.kAnonymityAudit(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10L)),
    "ns_kanon_suppress" -> ((s, dir) =>
      // suppression enforcement: rows surviving the k=10 bar, slim output
      graft.ops.Curation.suppressToK(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10L)
        .select("c_custkey", "c_nationkey", "c_mktsegment")),
    "ns_top_fraction" -> ((s, dir) => {
      // Per-language top-300‰ quality keep (exact tier, n_chars as the
      // integer score): pure integer rank predicate, so DuckDB replays
      // the kept set row-for-row including the doc_id tie-break.
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.ops.Curation.keepTopFraction(docs, "n_chars", Seq("lang"), 300, "doc_id")
    }),
    "ns_pipeline" -> ((s, dir) =>
      // Composed curation pipeline (dedup → lang → quality → split): the
      // oracle replays every stage AND the first-drop precedence, pinning
      // that the operators compose without semantic drift.
      graft.ops.Pipelines.disposition(t(s, dir, "documents"), "text", "doc_id")),
    "ns_pipeline_funnel" -> ((s, dir) =>
      // the audit rollup of the disposition table (stage × split counts)
      graft.ops.Pipelines.funnel(
        graft.ops.Pipelines.disposition(t(s, dir, "documents"), "text", "doc_id")))
  )

  /** Novelty-audit oracle over a doc_id % `mod` batch/reference split —
    * one generated fragment for the one-shot (mod 10) and incremental
    * (mod 7) gates: the reference dedups ONCE to its distinct (n, gram)
    * set, DuckDB's native ANTI JOIN is the novel-instance filter.
    */
  private def noveltySqlByMod(mod: Int): String =
    s"""WITH gen AS (SELECT doc_id,
       |    list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
       |                x -> x <> '') AS t
       |  FROM documents WHERE doc_id % $mod = 0),
       |rf AS (SELECT
       |    list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
       |                x -> x <> '') AS t
       |  FROM documents WHERE doc_id % $mod <> 0),
       |gns AS (SELECT doc_id, t, CAST(unnest([1, 2]) AS BIGINT) AS n FROM gen),
       |gg AS (SELECT doc_id, n, unnest(list_transform(range(1, len(t) - n + 2),
       |        i -> array_to_string(list_slice(t, i, i + n - 1), ' '))) AS gram FROM gns),
       |rns AS (SELECT t, CAST(unnest([1, 2]) AS BIGINT) AS n FROM rf),
       |rgd AS (SELECT DISTINCT n, gram FROM
       |    (SELECT n, unnest(list_transform(range(1, len(t) - n + 2),
       |       i -> array_to_string(list_slice(t, i, i + n - 1), ' '))) AS gram FROM rns)),
       |tot AS (SELECT doc_id, n, CAST(count(*) AS BIGINT) AS total_grams
       |  FROM gg GROUP BY 1, 2),
       |nov AS (SELECT doc_id, n, CAST(count(*) AS BIGINT) AS novel
       |  FROM gg ANTI JOIN rgd USING (n, gram) GROUP BY 1, 2)
       |SELECT tot.doc_id, tot.n, total_grams,
       |  coalesce(nov.novel, 0) AS novel_grams,
       |  (coalesce(nov.novel, 0) * 1000) // total_grams AS novelty_permille
       |FROM tot LEFT JOIN nov USING (doc_id, n)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "ns_bleu" ->
      s"""WITH $evalPairsSql,
         |${ngramCompSql(4)},
         |$bleuTailSql""".stripMargin,
    "ns_self_bleu" ->
      // shares bleuTailSql + ngramCompSql with ns_bleu (no-drift
      // convention); only the deterministic ring-pair frame is new
      s"""WITH $selfBleuPairsSql,
         |${ngramCompSql(4)},
         |$bleuTailSql""".stripMargin,
    "ns_ter" ->
      // token-level edit distance via per-pair ASCII relabeling: each
      // engine may order its union vocab differently — edit distance is
      // invariant under injective relabeling, so the integers agree
      s"""WITH $evalPairsSql,
         |$tok40CteSql,
         |vv AS (SELECT *, list_distinct(list_concat(ct, rt)) AS vocab FROM tt),
         |ee AS (SELECT pair_id,
         |    CAST(len(ct) AS BIGINT) AS cand_len, CAST(len(rt) AS BIGINT) AS ref_len,
         |    array_to_string(list_transform(ct, t -> chr(CAST(47 + list_position(vocab, t) AS INT))), '') AS ec,
         |    array_to_string(list_transform(rt, t -> chr(CAST(47 + list_position(vocab, t) AS INT))), '') AS er
         |  FROM vv)
         |SELECT pair_id, cand_len, ref_len,
         |  CAST(levenshtein(ec, er) AS BIGINT) AS edit_ops,
         |  CASE WHEN ref_len > 0
         |       THEN CAST(levenshtein(ec, er) AS BIGINT) * 1000 // ref_len
         |  END AS ter_permille
         |FROM ee""".stripMargin,
    "ns_bertscore" ->
      // int8 relabeling chain shared with ns_margin_pairs/ns_kcenter
      // (codes replay bit-for-bit), integer dots, per-unit max, truncated
      // integer means — the whole score replays
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
        |             list_min(embedding::DOUBLE[]) AS vmin,
        |             list_max(embedding::DOUBLE[]) AS vmax
        |           FROM embeddings WHERE vec_id < 500),
        |cz AS (SELECT id, id // 20 AS pair_id,
        |        list_transform(vec, x -> CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
        |          ELSE CAST(least(greatest(round((x - vmin) * 255.0 / (vmax - vmin)), 0), 255) AS BIGINT) END) AS q
        |      FROM e),
        |cd AS (SELECT pair_id, id AS cu, q FROM cz WHERE id % 2 = 0),
        |rf AS (SELECT pair_id, id AS ru, q FROM cz WHERE id % 2 = 1),
        |d AS (SELECT cd.pair_id, cd.cu, rf.ru,
        |        CAST(list_sum(list_transform(range(len(cd.q)),
        |          i -> cd.q[CAST(i+1 AS INT)] * rf.q[CAST(i+1 AS INT)])) AS BIGINT) AS sim
        |      FROM cd JOIN rf USING (pair_id)),
        |rr AS (SELECT pair_id, ru, max(sim) AS best FROM d GROUP BY 1, 2),
        |r2 AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS n_ref,
        |        CAST(sum(best) AS BIGINT) AS recall_sum FROM rr GROUP BY 1),
        |pp AS (SELECT pair_id, cu, max(sim) AS best FROM d GROUP BY 1, 2),
        |p2 AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS n_cand,
        |        CAST(sum(best) AS BIGINT) AS precision_sum FROM pp GROUP BY 1),
        |j AS (SELECT p2.pair_id, n_cand, n_ref, precision_sum, recall_sum,
        |        precision_sum // n_cand AS precision_mean,
        |        recall_sum // n_ref AS recall_mean
        |      FROM p2 JOIN r2 USING (pair_id))
        |SELECT pair_id, n_cand, n_ref, precision_sum, recall_sum,
        |  precision_mean, recall_mean,
        |  CASE WHEN precision_mean > 0 AND recall_mean > 0
        |       THEN (precision_mean * recall_mean * 2) // (precision_mean + recall_mean)
        |  END AS f1
        |FROM j""".stripMargin,
    "ns_bertscore_idf" ->
      // the idf-weighted twin: same int8 relabeling chain + the
      // rational inverse-frequency table ((N+1)*1e6 // (df+1)) over the
      // REFERENCE side, weighted means as HUGEINT dot-sums over weight
      // sums — the whole weighted score replays
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
        |             list_min(embedding::DOUBLE[]) AS vmin,
        |             list_max(embedding::DOUBLE[]) AS vmax
        |           FROM embeddings WHERE vec_id < 500),
        |cz AS (SELECT id, id // 20 AS pair_id, id % 7 AS key,
        |        list_transform(vec, x -> CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
        |          ELSE CAST(least(greatest(round((x - vmin) * 255.0 / (vmax - vmin)), 0), 255) AS BIGINT) END) AS q
        |      FROM e),
        |cd AS (SELECT pair_id, id AS cu, key, q FROM cz WHERE id % 2 = 0),
        |rf AS (SELECT pair_id, id AS ru, key, q FROM cz WHERE id % 2 = 1),
        |nw AS (SELECT CAST(count(DISTINCT pair_id) AS BIGINT) AS nn FROM rf),
        |dfq AS (SELECT key, CAST(count(DISTINCT pair_id) AS BIGINT) AS dfc FROM rf GROUP BY 1),
        |w AS (SELECT key, ((nn + 1) * 1000000) // (dfc + 1) AS wm FROM dfq, nw),
        |d AS (SELECT cd.pair_id, cd.cu, cd.key AS ck, rf.ru, rf.key AS rk,
        |        CAST(list_sum(list_transform(range(len(cd.q)),
        |          i -> cd.q[CAST(i+1 AS INT)] * rf.q[CAST(i+1 AS INT)])) AS BIGINT) AS sim
        |      FROM cd JOIN rf USING (pair_id)),
        |rr AS (SELECT pair_id, ru, rk, max(sim) AS best FROM d GROUP BY 1, 2, 3),
        |r2 AS (SELECT rr.pair_id, CAST(count(*) AS BIGINT) AS n_ref,
        |        CAST(sum(w.wm) AS BIGINT) AS recall_wsum,
        |        sum(w.wm * rr.best) AS rd
        |      FROM rr JOIN w ON w.key = rr.rk GROUP BY 1),
        |pp AS (SELECT pair_id, cu, ck, max(sim) AS best FROM d GROUP BY 1, 2, 3),
        |p2 AS (SELECT pp.pair_id, CAST(count(*) AS BIGINT) AS n_cand,
        |        CAST(sum(w.wm) AS BIGINT) AS precision_wsum,
        |        sum(w.wm * pp.best) AS pd
        |      FROM pp JOIN w ON w.key = pp.ck GROUP BY 1),
        |j AS (SELECT p2.pair_id, n_cand, n_ref, precision_wsum, recall_wsum,
        |        CASE WHEN precision_wsum > 0 THEN CAST(pd // precision_wsum AS BIGINT) END AS precision_mean,
        |        CASE WHEN recall_wsum > 0 THEN CAST(rd // recall_wsum AS BIGINT) END AS recall_mean
        |      FROM p2 JOIN r2 USING (pair_id))
        |SELECT pair_id, n_cand, n_ref, precision_wsum, recall_wsum,
        |  precision_mean, recall_mean,
        |  CASE WHEN precision_mean > 0 AND recall_mean > 0
        |       THEN (precision_mean * recall_mean * 2) // (precision_mean + recall_mean)
        |  END AS f1
        |FROM j""".stripMargin,
    "ns_bleu_multiref" ->
      // per-gram max over references BEFORE the clip join, closest ref
      // length (ties -> shorter) via the deterministic (diff, len) rank;
      // the root chain is the shared isqrt fragment
      s"""WITH $evalMultiRefSql,
         |ctk AS MATERIALIZED (SELECT pair_id,
         |    list_filter(string_split_regex(trim(lower(coalesce(cand, ''))), '\\s+'),
         |                x -> x <> '') AS ct
         |  FROM cd),
         |rtk AS MATERIALIZED (SELECT pair_id, ref_ord,
         |    list_filter(string_split_regex(trim(lower(coalesce(ref, ''))), '\\s+'),
         |                x -> x <> '') AS rt
         |  FROM rf),
         |cns AS (SELECT pair_id, ct, CAST(unnest([1, 2, 3, 4]) AS BIGINT) AS n FROM ctk),
         |cgr AS (SELECT pair_id, n, unnest(list_transform(range(1, len(ct) - n + 2),
         |          i -> array_to_string(list_slice(ct, i, i + n - 1), ' '))) AS gram FROM cns),
         |cc AS (SELECT pair_id, n, gram, CAST(count(*) AS BIGINT) AS c FROM cgr GROUP BY 1, 2, 3),
         |rns AS (SELECT pair_id, ref_ord, rt, CAST(unnest([1, 2, 3, 4]) AS BIGINT) AS n FROM rtk),
         |rgr AS (SELECT pair_id, ref_ord, n, unnest(list_transform(range(1, len(rt) - n + 2),
         |          i -> array_to_string(list_slice(rt, i, i + n - 1), ' '))) AS gram FROM rns),
         |rpc AS (SELECT pair_id, n, gram, ref_ord, count(*) AS r FROM rgr GROUP BY 1, 2, 3, 4),
         |rmx AS (SELECT pair_id, n, gram, CAST(max(r) AS BIGINT) AS rmax FROM rpc GROUP BY 1, 2, 3),
         |mg AS (SELECT cc.pair_id, cc.n, least(cc.c, coalesce(rmx.rmax, 0)) AS mm, cc.c AS c
         |      FROM cc LEFT JOIN rmx USING (pair_id, n, gram)),
         |comp AS (SELECT pair_id, n, CAST(sum(mm) AS BIGINT) AS m, CAST(sum(c) AS BIGINT) AS t
         |      FROM mg GROUP BY 1, 2),
         |wide AS (SELECT pair_id,
         |    CAST(coalesce(sum(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS m1,
         |    CAST(coalesce(sum(CASE WHEN n = 1 THEN t END), 0) AS BIGINT) AS t1,
         |    CAST(coalesce(sum(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS m2,
         |    CAST(coalesce(sum(CASE WHEN n = 2 THEN t END), 0) AS BIGINT) AS t2,
         |    CAST(coalesce(sum(CASE WHEN n = 3 THEN m END), 0) AS BIGINT) AS m3,
         |    CAST(coalesce(sum(CASE WHEN n = 3 THEN t END), 0) AS BIGINT) AS t3,
         |    CAST(coalesce(sum(CASE WHEN n = 4 THEN m END), 0) AS BIGINT) AS m4,
         |    CAST(coalesce(sum(CASE WHEN n = 4 THEN t END), 0) AS BIGINT) AS t4
         |  FROM comp GROUP BY 1),
         |lw AS (SELECT ctk.pair_id, CAST(len(ct) AS BIGINT) AS cand_len,
         |    coalesce(m1, 0) AS m1, coalesce(t1, 0) AS t1, coalesce(m2, 0) AS m2,
         |    coalesce(t2, 0) AS t2, coalesce(m3, 0) AS m3, coalesce(t3, 0) AS t3,
         |    coalesce(m4, 0) AS m4, coalesce(t4, 0) AS t4
         |  FROM ctk LEFT JOIN wide USING (pair_id)),
         |rl AS (SELECT pair_id, CAST(len(rt) AS BIGINT) AS rlen FROM rtk),
         |clp AS (SELECT lw.pair_id, rlen,
         |    row_number() OVER (PARTITION BY lw.pair_id ORDER BY abs(rlen - cand_len), rlen) AS rn
         |  FROM lw JOIN rl USING (pair_id)),
         |lw2 AS (SELECT lw.*, clp.rlen AS ref_len
         |  FROM lw JOIN clp ON clp.pair_id = lw.pair_id AND clp.rn = 1),
         |pp AS (SELECT *, CASE WHEN t1 > 0 THEN m1 * 1000 // t1 END AS p1,
         |    CASE WHEN t2 > 0 THEN m2 * 1000 // t2 END AS p2,
         |    CASE WHEN t3 > 0 THEN m3 * 1000 // t3 END AS p3,
         |    CASE WHEN t4 > 0 THEN m4 * 1000 // t4 END AS p4 FROM lw2),
         |pr AS (SELECT *, p1 * p2 * p3 * p4 AS prod FROM pp),
         |$isqrtChainSql
         |SELECT pair_id, cand_len, ref_len,
         |  m1 AS matches_1, t1 AS total_1, m2 AS matches_2, t2 AS total_2,
         |  m3 AS matches_3, t3 AS total_3, m4 AS matches_4, t4 AS total_4,
         |  CASE WHEN t1 > 0 AND t2 > 0 AND t3 > 0 AND t4 > 0 THEN geo END
         |    AS precision_geo_permille
         |FROM s2""".stripMargin,
    "ns_rouge_multiref" ->
      // per-reference ROUGE rows via the (pair, ref_ord)-keyed comp
      // fragment, then the shared per-metric max-over-refs tail
      s"""WITH $evalMultiRefSql,
         |${multiRefCompSql(2)},
         |prf AS (SELECT pair_id, ref_ord, n,
         |    CASE WHEN t > 0 THEN m * 1000 // t END AS precision_permille,
         |    CASE WHEN rt > 0 THEN m * 1000 // rt END AS recall_permille
         |  FROM comp WHERE t + rt > 0),
         |pf AS (SELECT *, ${fBetaSql(1)} FROM prf)
         |${maxOverRefsTailSql(Seq("precision_permille", "recall_permille", "f1_permille"))}""".stripMargin,
    "ns_chrf_multiref" ->
      // the char-gram sibling (substr grams, beta=2 column), same
      // (pair, ref_ord) key and the same max-over-refs tail
      s"""WITH $evalMultiRefSql,
         |jp AS (SELECT cd.pair_id, rf.ref_ord, cd.cand, rf.ref FROM cd JOIN rf USING (pair_id)),
         |tk AS MATERIALIZED (SELECT pair_id, ref_ord,
         |    substr(trim(lower(coalesce(cand, ''))), 1, 500) AS cs,
         |    substr(trim(lower(coalesce(ref, ''))), 1, 500) AS rs FROM jp),
         |ns AS (SELECT pair_id, ref_ord, cs, rs, CAST(unnest([1, 2, 3]) AS BIGINT) AS n FROM tk),
         |cgr AS (SELECT pair_id, ref_ord, n, unnest(list_transform(range(1, length(cs) - n + 2),
         |          i -> substr(cs, CAST(i AS INT), CAST(n AS INT)))) AS gram FROM ns),
         |rgr AS (SELECT pair_id, ref_ord, n, unnest(list_transform(range(1, length(rs) - n + 2),
         |          i -> substr(rs, CAST(i AS INT), CAST(n AS INT)))) AS gram FROM ns),
         |cc AS (SELECT pair_id, ref_ord, n, gram, count(*) AS c FROM cgr GROUP BY 1, 2, 3, 4),
         |rc AS (SELECT pair_id, ref_ord, n, gram, count(*) AS r FROM rgr GROUP BY 1, 2, 3, 4),
         |g AS (SELECT coalesce(cc.pair_id, rc.pair_id) AS pair_id,
         |        coalesce(cc.ref_ord, rc.ref_ord) AS ref_ord,
         |        coalesce(cc.n, rc.n) AS n, coalesce(cc.c, 0) AS c, coalesce(rc.r, 0) AS r
         |      FROM cc FULL JOIN rc ON cc.pair_id = rc.pair_id AND cc.ref_ord = rc.ref_ord
         |        AND cc.n = rc.n AND cc.gram = rc.gram),
         |comp AS (SELECT pair_id, ref_ord, n, CAST(sum(least(c, r)) AS BIGINT) AS m,
         |        CAST(sum(c) AS BIGINT) AS t, CAST(sum(r) AS BIGINT) AS rt
         |      FROM g GROUP BY 1, 2, 3),
         |prf AS (SELECT pair_id, ref_ord, n,
         |    CASE WHEN t > 0 THEN m * 1000 // t END AS precision_permille,
         |    CASE WHEN rt > 0 THEN m * 1000 // rt END AS recall_permille
         |  FROM comp WHERE t + rt > 0),
         |pf AS (SELECT *,
         |    ${fBetaSql(1)},
         |    ${fBetaSql(4)}
         |  FROM prf)
         |${maxOverRefsTailSql(Seq("precision_permille", "recall_permille", "f1_permille", "f2_permille"))}""".stripMargin,
    "ns_mcnemar" ->
      """WITH a AS (SELECT event_id AS pair_id, event_id % 7 < 2 AS pa FROM events),
        |b AS (SELECT event_id AS pair_id, event_id % 5 < 2 AS pb FROM events
        |      WHERE event_id % 13 <> 0),
        |j AS (SELECT * FROM a JOIN b USING (pair_id)),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_used,
        |    CAST(sum(CASE WHEN pa AND pb THEN 1 ELSE 0 END) AS BIGINT) AS both_pass,
        |    CAST(sum(CASE WHEN NOT pa AND NOT pb THEN 1 ELSE 0 END) AS BIGINT) AS both_fail,
        |    CAST(sum(CASE WHEN pa AND NOT pb THEN 1 ELSE 0 END) AS BIGINT) AS a_only,
        |    CAST(sum(CASE WHEN NOT pa AND pb THEN 1 ELSE 0 END) AS BIGINT) AS b_only
        |  FROM j)
        |SELECT *,
        |  CASE WHEN a_only + b_only > 0
        |       THEN ((a_only - b_only) * (a_only - b_only) * 1000) // (a_only + b_only)
        |  END AS chi2_milli,
        |  CASE WHEN a_only + b_only > 0
        |       THEN (greatest(abs(a_only - b_only) - 1, 0) * greatest(abs(a_only - b_only) - 1, 0) * 1000)
        |            // (a_only + b_only)
        |  END AS chi2_corrected_milli
        |FROM f""".stripMargin,
    "ns_ter_multiref" ->
      // the per-(pair, ref) ASCII-relabeled levenshtein (the ns_ter
      // chain keyed by ref_ord), then min edits / truncated-average
      // reference length
      s"""WITH $evalMultiRefSql,
         |jp AS (SELECT cd.pair_id, rf.ref_ord, cd.cand, rf.ref FROM cd JOIN rf USING (pair_id)),
         |tt AS (SELECT pair_id, ref_ord,
         |    list_slice(list_filter(string_split_regex(trim(lower(coalesce(cand, ''))), '\\s+'),
         |               x -> x <> ''), 1, 40) AS ct,
         |    list_slice(list_filter(string_split_regex(trim(lower(coalesce(ref, ''))), '\\s+'),
         |               x -> x <> ''), 1, 40) AS rt
         |  FROM jp),
         |vv AS (SELECT *, list_distinct(list_concat(ct, rt)) AS vocab FROM tt),
         |ee AS (SELECT pair_id, ref_ord,
         |    CAST(len(ct) AS BIGINT) AS cand_len, CAST(len(rt) AS BIGINT) AS ref_len,
         |    array_to_string(list_transform(ct, t -> chr(CAST(47 + list_position(vocab, t) AS INT))), '') AS ec,
         |    array_to_string(list_transform(rt, t -> chr(CAST(47 + list_position(vocab, t) AS INT))), '') AS er
         |  FROM vv),
         |pe AS (SELECT pair_id, ref_ord, cand_len, ref_len,
         |    CAST(levenshtein(ec, er) AS BIGINT) AS eo FROM ee),
         |ag AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS n_refs,
         |    CAST(max(cand_len) AS BIGINT) AS cand_len,
         |    CAST(min(eo) AS BIGINT) AS edit_ops,
         |    CAST(sum(ref_len) AS BIGINT) AS rl
         |  FROM pe GROUP BY 1)
         |SELECT pair_id, n_refs, cand_len, rl // n_refs AS avg_ref_len, edit_ops,
         |  CASE WHEN rl // n_refs > 0 THEN edit_ops * 1000 // (rl // n_refs) END AS ter_permille
         |FROM ag""".stripMargin,
    "ns_rouge_l_multiref" ->
      // the ns_rouge_l recursive-CTE LCS DP keyed by (pair, ref_ord),
      // then the Lin-2004 per-metric max over references
      s"""WITH RECURSIVE $evalMultiRefSql,
         |jp AS (SELECT cd.pair_id, rf.ref_ord, cd.cand, rf.ref FROM cd JOIN rf USING (pair_id)),
         |tt AS (SELECT pair_id, ref_ord,
         |    list_slice(list_filter(string_split_regex(trim(lower(coalesce(cand, ''))), '\\s+'),
         |               x -> x <> ''), 1, 40) AS ct,
         |    list_slice(list_filter(string_split_regex(trim(lower(coalesce(ref, ''))), '\\s+'),
         |               x -> x <> ''), 1, 40) AS rt
         |  FROM jp),
         |lcs(pair_id, ref_ord, i, row) AS (
         |  SELECT pair_id, ref_ord, 0::BIGINT,
         |    list_transform(range(len(rt) + 1), x -> 0::BIGINT) FROM tt
         |  UNION ALL
         |  SELECT l.pair_id, l.ref_ord, l.i + 1,
         |    list_reduce(
         |      list_prepend([0::BIGINT], list_transform(range(1, len(t.rt) + 1), j -> [j])),
         |      (acc, x) -> list_append(acc,
         |        greatest(l.row[CAST(x[1] AS INT) + 1], acc[-1],
         |          l.row[CAST(x[1] AS INT)] +
         |          CASE WHEN t.ct[CAST(l.i AS INT) + 1] = t.rt[CAST(x[1] AS INT)] THEN 1 ELSE 0 END)))
         |  FROM lcs l JOIN tt t ON t.pair_id = l.pair_id AND t.ref_ord = l.ref_ord
         |  WHERE l.i < len(t.ct)),
         |fin AS (SELECT l.pair_id, l.ref_ord, CAST(len(t.ct) AS BIGINT) AS cand_len,
         |    CAST(len(t.rt) AS BIGINT) AS ref_len, CAST(l.row[-1] AS BIGINT) AS lcs_len
         |  FROM lcs l JOIN tt t ON t.pair_id = l.pair_id AND t.ref_ord = l.ref_ord
         |  WHERE l.i = len(t.ct)),
         |prf2 AS (SELECT *,
         |    CASE WHEN cand_len > 0 THEN lcs_len * 1000 // cand_len END AS precision_permille,
         |    CASE WHEN ref_len > 0 THEN lcs_len * 1000 // ref_len END AS recall_permille
         |  FROM fin),
         |pf AS (SELECT *, ${fBetaSql(1)} FROM prf2)
         |SELECT pair_id, CAST(count(*) AS BIGINT) AS n_refs,
         |  CAST(max(precision_permille) AS BIGINT) AS precision_permille,
         |  CAST(max(recall_permille) AS BIGINT) AS recall_permille,
         |  CAST(max(f1_permille) AS BIGINT) AS f1_permille
         |FROM pf GROUP BY 1""".stripMargin,
    "ns_distinct_n" ->
      """WITH tk AS (SELECT list_filter(
        |    string_split_regex(trim(lower(coalesce(text, ''))), '\s+'),
        |    x -> x <> '') AS t FROM documents),
        |ns AS (SELECT t, CAST(unnest([1, 2]) AS BIGINT) AS n FROM tk),
        |g AS (SELECT n, unnest(list_transform(range(1, len(t) - n + 2),
        |        i -> array_to_string(list_slice(t, i, i + n - 1), ' '))) AS gram FROM ns),
        |c AS (SELECT n, gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2)
        |SELECT n, CAST(sum(cnt) AS BIGINT) AS total_grams,
        |  CAST(count(*) AS BIGINT) AS distinct_grams,
        |  (CAST(count(*) AS BIGINT) * 1000) // CAST(sum(cnt) AS BIGINT) AS distinct_permille
        |FROM c GROUP BY n""".stripMargin,
    "ns_ngram_novelty" -> noveltySqlByMod(10),
    // the incremental gate replays the SAME novelty arithmetic over its
    // own split — one generated fragment, the two gates cannot drift
    "ns_incremental_novelty" -> noveltySqlByMod(7),
    "ns_seq_rep_n" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\s+'),
        |                x -> x <> '') AS t
        |  FROM documents),
        |ns AS (SELECT doc_id, t, CAST(unnest([1, 2]) AS BIGINT) AS n FROM tk),
        |g AS (SELECT doc_id, n,
        |    list_transform(range(1, len(t) - n + 2),
        |      i -> array_to_string(list_slice(t, i, i + n - 1), ' ')) AS gs
        |  FROM ns)
        |SELECT doc_id, n, CAST(len(gs) AS BIGINT) AS total_grams,
        |  CAST(len(list_distinct(gs)) AS BIGINT) AS distinct_grams,
        |  1000 - (CAST(len(list_distinct(gs)) AS BIGINT) * 1000 // CAST(len(gs) AS BIGINT))
        |    AS rep_permille
        |FROM g WHERE len(gs) > 0""".stripMargin,
    "ns_self_consistency" ->
      """WITH v AS (SELECT user_id % 50 AS problem,
        |    (event_id * 3 + user_id) % 5 AS ans, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_id % 11 <> 0 GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY problem
        |    ORDER BY c DESC, ans ASC) AS rn,
        |    CAST(sum(c) OVER (PARTITION BY problem) AS BIGINT) AS n_samples
        |  FROM v)
        |SELECT problem, ans AS majority_answer, c AS n_majority, n_samples,
        |  c * 1000 // n_samples AS majority_permille
        |FROM r WHERE rn = 1""".stripMargin,
    "ns_pass_at_k" ->
      // the k-step floor fold replays via list_reduce with the
      // prepended-seed accumulator (10^6 is the first element)
      """WITH per AS (SELECT user_id % 50 AS problem,
        |    CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(CASE WHEN event_id % 7 < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_passed
        |  FROM events GROUP BY 1),
        |kk AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k),
        |f AS (SELECT *, CASE WHEN k <= n_samples THEN
        |    list_reduce(list_prepend(1000000::BIGINT, range(0, k)),
        |      (acc, i) -> (acc * (n_samples - n_passed - i)) // (n_samples - i))
        |  END AS m FROM per, kk)
        |SELECT problem, n_samples, n_passed, k,
        |  1000000 - m AS pass_at_k_micro
        |FROM f""".stripMargin,
    "ns_gpass" ->
      // exact hypergeometric tail: stepwise HUGEINT binomials (each
      // partial product IS a binomial, so every // is exact), one
      // floor at the end — the kernel's arbitrary-precision arithmetic
      // fits HUGEINT at the gate's n<=200, k<=10 envelope
      """WITH per AS (SELECT user_id % 50 AS problem,
        |    CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(CASE WHEN event_id % 7 < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_passed
        |  FROM events GROUP BY 1),
        |kt AS (SELECT CAST(k AS BIGINT) AS k, CAST(tn AS BIGINT) AS tau_num,
        |        CAST(td AS BIGINT) AS tau_den
        |      FROM (VALUES (5, 1, 2), (5, 1, 1), (10, 1, 2), (10, 1, 1)) t(k, tn, td))
        |SELECT problem, n_samples, n_passed, k, tau_num, tau_den,
        |  CASE WHEN k <= n_samples THEN
        |    CAST((list_sum(list_transform(range((tau_num * k + tau_den - 1) // tau_den, k + 1),
        |        j -> CASE WHEN j <= n_passed AND k - j <= n_samples - n_passed
        |             THEN list_reduce(list_prepend(1::HUGEINT, range(1, j + 1)),
        |                    (acc, i) -> (acc * (n_passed - j + i)) // i)
        |                * list_reduce(list_prepend(1::HUGEINT, range(1, k - j + 1)),
        |                    (acc, i) -> (acc * (n_samples - n_passed - (k - j) + i)) // i)
        |             ELSE 0::HUGEINT END))
        |      * 1000000)
        |      // list_reduce(list_prepend(1::HUGEINT, range(1, k + 1)),
        |           (acc, i) -> (acc * (n_samples - k + i)) // i)
        |    AS BIGINT)
        |  END AS g_pass_micro
        |FROM per, kt""".stripMargin,
    "ns_rouge_l" ->
      // token-LCS via a recursive-CTE DP: the outer recursion walks the
      // candidate tokens, list_reduce folds the new DP row left-to-right
      // (the [j]-wrapped range makes the fold's accumulator a LIST with
      // [0] as the seed — DuckDB 1.0 list_reduce has no init arg)
      s"""WITH RECURSIVE $evalPairsSql,
         |$tok40CteSql,
         |lcs(pair_id, i, row) AS (
         |  SELECT pair_id, 0::BIGINT, list_transform(range(len(rt) + 1), x -> 0::BIGINT) FROM tt
         |  UNION ALL
         |  SELECT l.pair_id, l.i + 1,
         |    list_reduce(
         |      list_prepend([0::BIGINT], list_transform(range(1, len(t.rt) + 1), j -> [j])),
         |      (acc, x) -> list_append(acc,
         |        greatest(l.row[CAST(x[1] AS INT) + 1], acc[-1],
         |          l.row[CAST(x[1] AS INT)] +
         |          CASE WHEN t.ct[CAST(l.i AS INT) + 1] = t.rt[CAST(x[1] AS INT)] THEN 1 ELSE 0 END)))
         |  FROM lcs l JOIN tt t USING (pair_id)
         |  WHERE l.i < len(t.ct)),
         |fin AS (SELECT l.pair_id, CAST(len(t.ct) AS BIGINT) AS cand_len,
         |    CAST(len(t.rt) AS BIGINT) AS ref_len, CAST(l.row[-1] AS BIGINT) AS lcs_len
         |  FROM lcs l JOIN tt t USING (pair_id) WHERE l.i = len(t.ct)),
         |prf2 AS (SELECT *,
         |    CASE WHEN cand_len > 0 THEN lcs_len * 1000 // cand_len END AS precision_permille,
         |    CASE WHEN ref_len > 0 THEN lcs_len * 1000 // ref_len END AS recall_permille
         |  FROM fin)
         |SELECT *, ${fBetaSql(1)}
         |FROM prf2""".stripMargin,
    "ns_rouge" ->
      s"""WITH $evalPairsSql,
         |${ngramCompSql(2)},
         |$prfCteSql
         |SELECT *, ${fBetaSql(1)}
         |FROM prf""".stripMargin,
    "ns_chrf" ->
      // shares evalPairsSql + prfCteSql with ns_bleu/ns_rouge (no-drift
      // convention); only the char-gram comp is chrF-specific
      s"""WITH $evalPairsSql,
         |tk AS MATERIALIZED (SELECT pair_id,
         |    substr(trim(lower(coalesce(cand, ''))), 1, 500) AS cs,
         |    substr(trim(lower(coalesce(ref, ''))), 1, 500) AS rs FROM p),
         |ns AS (SELECT pair_id, cs, rs, CAST(unnest([1, 2, 3]) AS BIGINT) AS n FROM tk),
         |cgr AS (SELECT pair_id, n, unnest(list_transform(range(1, length(cs) - n + 2),
         |          i -> substr(cs, CAST(i AS INT), CAST(n AS INT)))) AS gram FROM ns),
         |rgr AS (SELECT pair_id, n, unnest(list_transform(range(1, length(rs) - n + 2),
         |          i -> substr(rs, CAST(i AS INT), CAST(n AS INT)))) AS gram FROM ns),
         |cc AS (SELECT pair_id, n, gram, count(*) AS c FROM cgr GROUP BY 1, 2, 3),
         |rc AS (SELECT pair_id, n, gram, count(*) AS r FROM rgr GROUP BY 1, 2, 3),
         |g AS (SELECT coalesce(cc.pair_id, rc.pair_id) AS pair_id, coalesce(cc.n, rc.n) AS n,
         |        coalesce(cc.c, 0) AS c, coalesce(rc.r, 0) AS r
         |      FROM cc FULL JOIN rc ON cc.pair_id = rc.pair_id AND cc.n = rc.n AND cc.gram = rc.gram),
         |comp AS (SELECT pair_id, n, CAST(sum(least(c, r)) AS BIGINT) AS m,
         |        CAST(sum(c) AS BIGINT) AS t, CAST(sum(r) AS BIGINT) AS rt
         |      FROM g GROUP BY 1, 2),
         |$prfCteSql
         |SELECT *,
         |  ${fBetaSql(1)},
         |  ${fBetaSql(4)}
         |FROM prf""".stripMargin,
    "ns_bradley_terry" -> {
      // GENERATED 3-round MM unroll in micro-units (the pageRank/HITS
      // oracle convention: HUGEINT carriers, integer //, scalar-subquery
      // max-norm per round)
      val rounds = (1 to 3).map { i =>
        s"""t$i AS MATERIALIZED (
           |  SELECT p.a, p.b,
           |    CASE WHEN sa.s + sb.s > 0
           |         THEN (CAST(p.n AS HUGEINT) * 1000000 * 1000000) // (sa.s + sb.s)
           |         ELSE 0 END AS t
           |  FROM bt_pairs p JOIN it${i - 1} sa ON p.a = sa.item
           |    JOIN it${i - 1} sb ON p.b = sb.item),
           |d$i AS MATERIALIZED (
           |  SELECT item, sum(t) AS d FROM (
           |    SELECT a AS item, t FROM t$i UNION ALL SELECT b, t FROM t$i) GROUP BY 1),
           |r$i AS MATERIALIZED (
           |  SELECT b.item,
           |    CASE WHEN coalesce(d.d, 0) > 0
           |         THEN (CAST(b.wins AS HUGEINT) * 1000000 * 1000000) // d.d
           |         ELSE 0 END AS r
           |  FROM base b LEFT JOIN d$i d USING (item)),
           |it$i AS MATERIALIZED (
           |  SELECT item, (r * 1000000) // greatest((SELECT max(r) FROM r$i), 1) AS s
           |  FROM r$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH j AS MATERIALIZED (
         |  SELECT event_id % 9 AS w, (event_id * 7 + 3) % 9 AS l FROM events
         |  WHERE event_id % 9 <> (event_id * 7 + 3) % 9),
         |bt_pairs AS MATERIALIZED (SELECT least(w, l) AS a, greatest(w, l) AS b,
         |    CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1, 2),
         |wn AS (SELECT w AS item, CAST(count(*) AS BIGINT) AS wins FROM j GROUP BY 1),
         |gm AS (SELECT item, CAST(sum(n) AS BIGINT) AS games FROM (
         |    SELECT a AS item, n FROM bt_pairs UNION ALL SELECT b, n FROM bt_pairs) GROUP BY 1),
         |base AS MATERIALIZED (SELECT gm.item, CAST(coalesce(wn.wins, 0) AS BIGINT) AS wins,
         |    gm.games FROM gm LEFT JOIN wn USING (item)),
         |it0 AS (SELECT item, CAST(1000000 AS HUGEINT) AS s FROM base),
         |$rounds
         |SELECT base.item, base.wins, base.games, CAST(it3.s AS BIGINT) AS skill_micro
         |FROM base JOIN it3 USING (item)""".stripMargin
    },
    // ns_epoch_value is a DERIVED oracle (wraps the ns_epoch_plan SQL) —
    // composed in SparkEntry.oracleSql so the two gates cannot drift
    "ns_mix_value" ->
      s"""WITH qf AS ($qualityFilterSql),
         |st AS (SELECT d.lang AS stratum, CAST(sum(qf.n_words) AS BIGINT) AS tokens
         |       FROM qf JOIN documents d USING (doc_id) WHERE qf.keep GROUP BY 1),
         |tgt(stratum, permille) AS (VALUES ('en', 300), ('de', 300), ('es', 200), ('fr', 200)),
         |p AS (SELECT st.stratum, st.tokens,
         |             CAST(coalesce(tgt.permille, 0) AS BIGINT) AS permille
         |      FROM st LEFT JOIN tgt USING (stratum)),
         |e AS (SELECT *, (60000 * permille) // 1000 AS target_tokens FROM p),
         |f AS (SELECT *, least(CASE WHEN tokens > 0 THEN (target_tokens * 1000) // tokens
         |                           ELSE 0 END, 4000) AS epochs_milli FROM e),
         |x AS (SELECT stratum, tokens, epochs_milli, epochs_milli % 1000 AS frac,
         |        coalesce(list_sum(list_transform(range(epochs_milli // 1000),
         |          i -> 1000 // (1 << i))), 0) AS s,
         |        1000 // (1 << (epochs_milli // 1000)) AS p2
         |      FROM f),
         |y AS (SELECT stratum, tokens, epochs_milli,
         |        CAST((tokens * (s + (frac * p2) // 1000)) // 1000 AS BIGINT) AS effective_tokens,
         |        CAST((tokens * epochs_milli) // 1000 AS BIGINT) AS raw_tokens
         |      FROM x)
         |SELECT stratum, tokens, epochs_milli, effective_tokens, raw_tokens,
         |       CASE WHEN raw_tokens > 0 THEN (effective_tokens * 1000) // raw_tokens
         |            ELSE NULL END AS value_permille
         |FROM y""".stripMargin,
    "ns_split_leakage" ->
      """WITH d AS (SELECT doc_id // 20 AS blk,
        |             CASE WHEN (doc_id // 50) % 5 < 4 THEN 'train' ELSE 'val' END AS split
        |           FROM documents)
        |SELECT blk, CAST(count(DISTINCT split)
        |         + max(CASE WHEN split IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_splits,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       min(split) AS first_split, max(split) AS last_split,
        |       count(DISTINCT split)
        |         + max(CASE WHEN split IS NULL THEN 1 ELSE 0 END) > 1 AS leaking
        |FROM d GROUP BY 1""".stripMargin,
    "ns_pref_consistency" ->
      """WITH j AS (SELECT user_id % 30 AS prompt, event_id % 9 AS w,
        |                  (event_id * 7 + 3) % 9 AS l
        |           FROM events WHERE event_id % 9 <> (event_id * 7 + 3) % 9),
        |pairs AS (SELECT prompt, least(w, l) AS a, greatest(w, l) AS b,
        |            CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS n_ab,
        |            CAST(sum(CASE WHEN w > l THEN 1 ELSE 0 END) AS BIGINT) AS n_ba
        |          FROM j GROUP BY 1, 2, 3),
        |maj AS (SELECT prompt, CASE WHEN n_ab > n_ba THEN a ELSE b END AS s,
        |               CASE WHEN n_ab > n_ba THEN b ELSE a END AS t
        |        FROM pairs WHERE n_ab <> n_ba),
        |cyc AS (SELECT e1.prompt, CAST(count(*) AS BIGINT) AS n_cycles
        |        FROM maj e1
        |        JOIN maj e2 ON e1.prompt = e2.prompt AND e1.t = e2.s
        |        JOIN maj e3 ON e2.prompt = e3.prompt AND e2.t = e3.s AND e3.t = e1.s
        |        WHERE e1.s < e1.t AND e1.s < e2.t
        |        GROUP BY 1),
        |per AS (SELECT prompt, CAST(count(*) AS BIGINT) AS n_pairs,
        |          CAST(sum(CASE WHEN n_ab > 0 AND n_ba > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_contradictory,
        |          CAST(sum(CASE WHEN n_ab = n_ba THEN 1 ELSE 0 END) AS BIGINT) AS n_tied
        |        FROM pairs GROUP BY 1),
        |nj AS (SELECT prompt, CAST(count(*) AS BIGINT) AS n_judgments FROM j GROUP BY 1)
        |SELECT nj.prompt, n_judgments, n_pairs, n_contradictory, n_tied,
        |       coalesce(n_cycles, 0) AS n_cycles,
        |       (n_contradictory = 0 AND coalesce(n_cycles, 0) = 0) AS consistent
        |FROM nj JOIN per USING (prompt) LEFT JOIN cyc USING (prompt)""".stripMargin,
    "ns_copeland" ->
      """WITH j AS (SELECT user_id % 30 AS prompt, event_id % 9 AS w,
        |                  (event_id * 7 + 3) % 9 AS l
        |           FROM events WHERE event_id % 9 <> (event_id * 7 + 3) % 9),
        |pairs AS (SELECT prompt, least(w, l) AS a, greatest(w, l) AS b,
        |            CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS n_ab,
        |            CAST(sum(CASE WHEN w > l THEN 1 ELSE 0 END) AS BIGINT) AS n_ba
        |          FROM j GROUP BY 1, 2, 3),
        |o AS (SELECT prompt, a AS item,
        |        CASE WHEN n_ab > n_ba THEN 1 ELSE 0 END AS win,
        |        CASE WHEN n_ab < n_ba THEN 1 ELSE 0 END AS loss,
        |        CASE WHEN n_ab = n_ba THEN 1 ELSE 0 END AS tie FROM pairs
        |      UNION ALL
        |      SELECT prompt, b, CASE WHEN n_ba > n_ab THEN 1 ELSE 0 END,
        |        CASE WHEN n_ba < n_ab THEN 1 ELSE 0 END,
        |        CASE WHEN n_ab = n_ba THEN 1 ELSE 0 END FROM pairs),
        |sc AS (SELECT prompt, item, CAST(sum(win) AS BIGINT) AS wins,
        |         CAST(sum(loss) AS BIGINT) AS losses, CAST(sum(tie) AS BIGINT) AS ties
        |       FROM o GROUP BY 1, 2)
        |SELECT prompt, item, wins, losses, ties, wins - losses AS copeland,
        |  CAST(row_number() OVER (PARTITION BY prompt
        |    ORDER BY wins - losses DESC, item ASC) AS BIGINT) AS rk
        |FROM sc""".stripMargin,
    "ns_temperature_mix" ->
      """WITH s AS (SELECT lang, CAST(sum(n_chars // 5) AS BIGINT) AS tokens
        |           FROM documents GROUP BY 1),
        |r AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS HUGEINT) AS r0 FROM s),
        |c AS (SELECT *, CASE WHEN (r0+1)*(r0+1) <= tokens THEN r0+1 ELSE r0 END AS r1 FROM r),
        |s2 AS (SELECT lang, tokens,
        |         CAST(CASE WHEN r1*r1 > tokens THEN r1-1 ELSE r1 END AS BIGINT) AS w2 FROM c),
        |r3 AS (SELECT *, CAST(tokens AS HUGEINT) * w2 AS x3,
        |         CAST(floor(sqrt(CAST(CAST(tokens AS HUGEINT) * w2 AS DOUBLE))) AS HUGEINT) AS q0
        |       FROM s2),
        |c3 AS (SELECT *, CASE WHEN (q0+1)*(q0+1) <= x3 THEN q0+1 ELSE q0 END AS q1 FROM r3),
        |s3 AS (SELECT lang, tokens, w2,
        |         CAST(CASE WHEN q1*q1 > x3 THEN q1-1 ELSE q1 END AS BIGINT) AS w3 FROM c3),
        |r1q AS (SELECT *, CAST(floor(sqrt(CAST(w2 AS DOUBLE))) AS HUGEINT) AS p0 FROM s3),
        |c1 AS (SELECT *, CASE WHEN (p0+1)*(p0+1) <= w2 THEN p0+1 ELSE p0 END AS p1 FROM r1q),
        |s4 AS (SELECT lang, tokens, w2, w3,
        |         CAST(CASE WHEN p1*p1 > w2 THEN p1-1 ELSE p1 END AS BIGINT) AS w1 FROM c1),
        |u AS (SELECT lang, tokens, w1 AS weight, CAST(1 AS BIGINT) AS alpha_quarters FROM s4
        |      UNION ALL
        |      SELECT lang, tokens, w2, CAST(2 AS BIGINT) FROM s4
        |      UNION ALL
        |      SELECT lang, tokens, w3, CAST(3 AS BIGINT) FROM s4
        |      UNION ALL
        |      SELECT lang, tokens, tokens, CAST(4 AS BIGINT) FROM s4),
        |t AS (SELECT alpha_quarters, CAST(sum(weight) AS HUGEINT) AS tot
        |      FROM u GROUP BY 1)
        |SELECT u.lang, u.tokens, u.weight,
        |       CASE WHEN t.tot > 0
        |            THEN CAST((CAST(u.weight AS HUGEINT) * 1000) // t.tot AS BIGINT)
        |            ELSE 0 END AS share_permille,
        |       CASE WHEN t.tot > 0
        |            THEN CAST((CAST(u.weight AS HUGEINT) * 1000000) // t.tot AS BIGINT)
        |            ELSE 0 END AS target_tokens,
        |       u.alpha_quarters
        |FROM u JOIN t USING (alpha_quarters)""".stripMargin,
    "ns_waterfill" ->
      """WITH s AS (SELECT lang, CAST(sum(n_chars // 5) AS BIGINT) AS toks,
        |             CAST(1 + ascii(lang) % 7 AS BIGINT) AS w
        |           FROM documents GROUP BY lang),
        |a AS (SELECT *, CAST(toks AS HUGEINT) * 1000000000000 // w AS rk_key
        |      FROM s WHERE w > 0),
        |p AS (SELECT *,
        |        CAST(sum(toks) OVER ord AS HUGEINT) AS pa,
        |        CAST(sum(w) OVER ord AS HUGEINT) AS pw,
        |        CAST(sum(w) OVER () AS HUGEINT) AS wtot
        |      FROM a
        |      WINDOW ord AS (ORDER BY rk_key, lang ROWS UNBOUNDED PRECEDING)),
        |c AS (SELECT *, (CAST(toks AS HUGEINT) * (wtot - pw)
        |                 <= CAST(w AS HUGEINT) * (24000 - pa)) AS capped FROM p),
        |lvl AS (SELECT coalesce(sum(CASE WHEN capped THEN toks END), 0) AS ca,
        |               coalesce(sum(CASE WHEN capped THEN w END), 0) AS cw,
        |               coalesce(max(wtot), 0) AS wt FROM c),
        |alloc AS (SELECT lang, toks, w, capped,
        |            CASE WHEN capped THEN toks
        |                 ELSE CAST(CAST(w AS HUGEINT) * (24000 - ca) // (wt - cw)
        |                      AS BIGINT) END AS allocated
        |          FROM c, lvl)
        |SELECT lang, toks AS available, w AS weight, allocated, capped,
        |       CASE WHEN toks > 0 THEN (allocated * 1000) // toks ELSE 0 END
        |         AS fill_permille
        |FROM alloc""".stripMargin,
    "ns_canary_insert" -> canaryInsertSql(200),
    "ns_canary_recall" ->
      s"""WITH ins AS (
         |${canaryInsertSql(200)}
         |),
         |hits AS (
         |  SELECT h AS canary, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM (SELECT unnest(regexp_extract_all(text_out, 'GRAFT-CANARY-[0-9]+')) AS h
         |        FROM ins WHERE doc_id % 3 = 0)
         |  GROUP BY 1),
         |c AS (SELECT DISTINCT canary FROM ins WHERE has_canary)
         |SELECT c.canary, coalesce(n_hits, 0) AS n_hits, coalesce(n_hits, 0) > 0 AS found
         |FROM c LEFT JOIN hits USING (canary)""".stripMargin,
    "ns_preference_pairs" ->
      """WITH e AS (SELECT user_id AS prompt, event_id,
        |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |b AS (SELECT prompt, event_id AS chosen_id, cents AS chosen_score,
        |        row_number() OVER (PARTITION BY prompt ORDER BY cents DESC, event_id ASC) AS rn
        |      FROM e),
        |w AS (SELECT prompt, event_id AS rejected_id, cents AS rejected_score,
        |        row_number() OVER (PARTITION BY prompt ORDER BY cents ASC, event_id ASC) AS rn
        |      FROM e)
        |SELECT b.prompt, chosen_id, rejected_id, chosen_score, rejected_score,
        |       chosen_score - rejected_score AS gap
        |FROM b JOIN w ON b.prompt = w.prompt AND b.rn = 1 AND w.rn = 1
        |WHERE chosen_score - rejected_score >= 100""".stripMargin,
    "ns_quality_classifier" -> qualityOracleSql,
    "ns_normalize" ->
      """SELECT doc_id, lower(trim(regexp_replace(regexp_replace(regexp_replace(
        |  chr(9) || text || '  ' || chr(160) || 'MiXeD  CASE' || chr(7) || chr(8232) || ' tail ',
        |  '[\x{0000}-\x{0008}\x{000E}-\x{001F}\x{007F}]', ' ', 'g'),
        |  '[\t\n\x{000B}\f\r\x{0085}\x{00A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]', ' ', 'g'),
        |  ' {2,}', ' ', 'g'))) AS norm
        |FROM documents""".stripMargin,
    "ns_decontaminate_embed" ->
      """WITH cq AS (SELECT vec_id AS cid,
        |              list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS v
        |            FROM embeddings WHERE len(embedding) = 64),
        |bq AS (SELECT vec_id AS bid,
        |         list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS v
        |       FROM embeddings WHERE vec_id < 25 AND len(embedding) = 64),
        |cn AS (SELECT cid, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq FROM cq),
        |bn AS (SELECT bid, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq FROM bq),
        |s AS (SELECT cn.cid, bn.bid,
        |        CASE WHEN cn.nsq > 0 AND bn.nsq > 0 THEN
        |          CAST(floor(1000.0 * CAST(list_sum(list_transform(range(1, 65),
        |                 j -> cn.v[CAST(j AS INT)] * bn.v[CAST(j AS INT)])) AS DOUBLE) /
        |               (sqrt(CAST(cn.nsq AS DOUBLE)) * sqrt(CAST(bn.nsq AS DOUBLE)))) AS BIGINT)
        |        ELSE 0 END AS cos
        |      FROM cn CROSS JOIN bn)
        |SELECT cid AS vec_id, bid AS best_benchmark_id, cos AS max_cos_permille,
        |       cos >= 990 AS contaminated
        |FROM (SELECT cid, bid, cos,
        |        row_number() OVER (PARTITION BY cid ORDER BY cos DESC, bid) AS rn FROM s)
        |WHERE rn = 1""".stripMargin,
    "ns_decontaminate_neardup" ->
      s"""WITH $minhashSigCtes, hits AS (
         |  SELECT DISTINCT b.doc_id AS did
         |  FROM sg a JOIN sg b ON a.doc_id < 250 AND b.doc_id >= 250
         |  WHERE $minhashPairPredSql
         |)
         |SELECT d.doc_id, (h.did IS NOT NULL) AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.did
         |WHERE d.doc_id >= 250""".stripMargin,
    "ns_kanon_audit" ->
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 10""".stripMargin,
    "ns_kanon_suppress" ->
      """WITH ok AS (SELECT c_nationkey, c_mktsegment FROM customer
        |            GROUP BY 1, 2 HAVING count(*) >= 10)
        |SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment
        |FROM customer c JOIN ok USING (c_nationkey, c_mktsegment)""".stripMargin,
    "ns_top_fraction" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |WHERE rk * 1000 <= n * 300""".stripMargin,
    "ns_chunk" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 32 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(0, (len(toks) - 32 + 23) // 24 + 1),
        |           i -> array_to_string(toks[i*24 + 1 : least(i*24 + 32, len(toks))], ' ')) END AS chunks
        |  FROM tk)
        |SELECT doc_id, CAST(pos AS INT) AS chunk_idx, chunk,
        |       CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_chunk_tokens
        |FROM (SELECT doc_id, unnest(range(0, len(chunks))) AS pos, unnest(chunks) AS chunk FROM c)""".stripMargin,
    "ns_pack" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 32 THEN [CAST(len(toks) AS BIGINT)]
        |         ELSE list_transform(range(0, (len(toks) - 32 + 23) // 24 + 1),
        |           i -> CAST(least(i*24 + 32, len(toks)) - i*24 AS BIGINT)) END AS lens
        |  FROM tk),
        |u AS (
        |  SELECT doc_id, CAST(pos AS INT) AS chunk_idx, l AS n_tokens
        |  FROM (SELECT doc_id, unnest(range(0, len(lens))) AS pos, unnest(lens) AS l FROM c)),
        |g AS (
        |  SELECT *, row_number() OVER (PARTITION BY pack_group ORDER BY doc_id, chunk_idx) AS rn
        |  FROM (SELECT doc_id, chunk_idx, n_tokens,
        |          CAST(('0x' || substr(md5('graft|' || concat_ws('|', doc_id, chunk_idx)), 1, 8))::UBIGINT
        |               & 2147483647 AS BIGINT) % 8 AS pack_group FROM u)),
        |p AS (
        |  SELECT pack_group, rn, doc_id, chunk_idx, n_tokens,
        |         CAST(0 AS BIGINT) AS bin_idx, CAST(0 AS BIGINT) AS bin_off, n_tokens AS acc
        |  FROM g WHERE rn = 1
        |  UNION ALL
        |  SELECT g.pack_group, g.rn, g.doc_id, g.chunk_idx, g.n_tokens,
        |    CASE WHEN p.acc + g.n_tokens <= 128 THEN p.bin_idx ELSE p.bin_idx + 1 END,
        |    CASE WHEN p.acc + g.n_tokens <= 128 THEN p.acc ELSE CAST(0 AS BIGINT) END,
        |    CASE WHEN p.acc + g.n_tokens <= 128 THEN p.acc + g.n_tokens ELSE g.n_tokens END
        |  FROM g JOIN p ON g.pack_group = p.pack_group AND g.rn = p.rn + 1)
        |SELECT pack_group, doc_id, chunk_idx, n_tokens, bin_idx, bin_off FROM p""".stripMargin,
    "ns_ldiversity" ->
      """WITH c AS (SELECT o_custkey, o_orderstatus, count(*) AS n
        |           FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, CAST(sum(n) AS BIGINT) AS class_size,
        |       CAST(count(*) AS BIGINT) AS sensitive_diversity
        |FROM c GROUP BY 1 HAVING count(*) < 3""".stripMargin,
    "ns_tcloseness" ->
      """WITH vc AS (SELECT o_orderpriority AS qp, o_orderstatus AS v, count(*) AS nvc
        |            FROM orders GROUP BY 1, 2),
        |c AS (SELECT qp, sum(nvc) AS nc FROM vc GROUP BY 1),
        |g AS (SELECT v, sum(nvc) AS nv FROM vc GROUP BY 1),
        |t AS (SELECT sum(nvc) AS n FROM vc),
        |p AS (SELECT c.qp, c.nc, g.v, g.nv FROM c CROSS JOIN g),
        |j AS (SELECT p.qp, p.nc, p.nv, coalesce(vc.nvc, 0) AS nvc
        |      FROM p LEFT JOIN vc ON p.qp = vc.qp AND p.v = vc.v)
        |SELECT qp AS o_orderpriority, CAST(max(nc) AS BIGINT) AS class_size,
        |       CAST((500 * sum(abs(nvc * (SELECT n FROM t) - nv * nc))) //
        |            (max(nc) * (SELECT n FROM t)) AS BIGINT) AS dist_permille
        |FROM j GROUP BY 1 HAVING CAST((500 * sum(abs(nvc * (SELECT n FROM t) - nv * nc))) //
        |            (max(nc) * (SELECT n FROM t)) AS BIGINT) > 5""".stripMargin,
    "ns_trim_tokens" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |       CAST(least(len(t), 50) AS BIGINT) AS n_kept,
        |       len(t) > 50 AS truncated,
        |       array_to_string(t[1:50], ' ') AS text_trim
        |FROM tk""".stripMargin,
    "ns_split" ->
      """SELECT doc_id,
        |  CASE WHEN hv < 800 THEN 'train' WHEN hv < 900 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        (('0x' || substr(md5('graft-split|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |         & 2147483647) % 1000 AS hv
        |      FROM documents)""".stripMargin,
    "ns_epoch_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY hv, doc_id) - 1 AS BIGINT) AS shuffle_pos
        |FROM (SELECT doc_id,
        |        (('0x' || substr(md5('graft-shuffle-e1|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |         & 2147483647) AS hv
        |      FROM documents)""".stripMargin,
    "ns_epoch_plan" ->
      """WITH st AS (
        |  SELECT lang AS stratum,
        |    CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |             ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |tgt(stratum, permille) AS (VALUES ('en', 200), ('de', 450), ('es', 250), ('fr', 100)),
        |p AS (
        |  SELECT st.stratum, st.tokens, CAST(coalesce(tgt.permille, 0) AS BIGINT) AS permille
        |  FROM st LEFT JOIN tgt USING (stratum)),
        |e AS (SELECT *, (30000 * permille) // 1000 AS target_tokens FROM p),
        |f AS (SELECT *, least(CASE WHEN tokens > 0 THEN (target_tokens * 1000) // tokens
        |                           ELSE 0 END, 2500) AS epochs_milli FROM e),
        |g AS (SELECT *, (tokens * epochs_milli) // 1000 AS planned_tokens FROM f),
        |h AS (SELECT *, target_tokens - planned_tokens AS shortfall FROM g)
        |SELECT stratum, tokens, permille, target_tokens, epochs_milli, planned_tokens, shortfall,
        |  CASE WHEN (SELECT sum(planned_tokens) FROM h) > 0
        |       THEN (planned_tokens * 1000) // CAST((SELECT sum(planned_tokens) FROM h) AS BIGINT)
        |       ELSE 0 END AS achieved_permille
        |FROM h""".stripMargin,
    "ns_boilerplate" ->
      """WITH t2 AS (SELECT doc_id,
        |        string_split(regexp_replace(lower(trim(text)), '((?:\S+ ){4}\S+) ', '\1' || chr(10), 'g'), chr(10)) AS lines
        |      FROM documents),
        |l AS (SELECT doc_id, unnest(range(1, len(lines) + 1)) AS pos, unnest(lines) AS line,
        |             len(lines) AS n_lines FROM t2),
        |s AS (SELECT *,
        |        len(string_split_regex(lower(trim(line)), '\s+')) AS n_words,
        |        len(list_filter(string_split_regex(lower(trim(line)), '\s+'),
        |          t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], t))) AS stop_hits,
        |        len(regexp_extract_all(line, '(?:^| )(?:https?://|www\.)')) AS n_links
        |      FROM l)
        |SELECT doc_id, CAST(any_value(n_lines) AS BIGINT) AS n_lines, count(*) AS n_kept,
        |       string_agg(line, chr(10) ORDER BY pos) AS text_clean
        |FROM s
        |WHERE n_words >= 3 AND stop_hits * 1000 >= 100 * n_words AND n_links * 1000 <= 1000 * n_words
        |GROUP BY doc_id""".stripMargin,
    "ns_dsir" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |f AS (
        |  SELECT doc_id, lang,
        |    list_concat(toks, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS grams
        |  FROM tk),
        |b AS (
        |  SELECT doc_id, lang,
        |    CAST((('0x' || substr(md5(g), 1, 8))::UBIGINT & 2147483647) % 1024 AS INT) AS bucket,
        |    count(*) AS c
        |  FROM (SELECT doc_id, lang, unnest(grams) AS g FROM f) GROUP BY 1, 2, 3),
        |tt AS (SELECT bucket, sum(c) AS tb FROM b WHERE lang = 'de' GROUP BY 1),
        |rr AS (SELECT bucket, sum(c) AS rb FROM b GROUP BY 1)
        |SELECT b.doc_id,
        |  CAST(sum(b.c) AS BIGINT) AS n_feats,
        |  CAST(sum(b.c * coalesce(tt.tb, 0)) AS BIGINT) AS t_hits,
        |  CAST(sum(b.c * rr.rb) AS BIGINT) AS r_hits
        |FROM b LEFT JOIN tt USING (bucket) JOIN rr USING (bucket)
        |GROUP BY 1""".stripMargin,
    "ns_lm_score" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |tr AS (SELECT toks FROM tk WHERE doc_id % 2 = 0),
        |uni AS (SELECT t AS tok, count(*) AS c
        |        FROM (SELECT unnest(toks) AS t FROM tr) GROUP BY 1),
        |big AS (SELECT p, t, count(*) AS c FROM (
        |          SELECT unnest(toks[1:len(toks)-1]) AS p,
        |                 unnest(toks[2:len(toks)]) AS t
        |          FROM tr WHERE len(toks) >= 2) GROUP BY 1, 2),
        |pos AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i,
        |               unnest(toks) AS tok, toks FROM tk),
        |pt AS (SELECT doc_id, i, tok,
        |              CASE WHEN i = 1 THEN NULL ELSE toks[i-1] END AS prev
        |       FROM pos),
        |j AS (SELECT pt.doc_id, pt.i, b.c AS cb, uw.c AS cw
        |      FROM pt
        |      LEFT JOIN big b ON pt.prev = b.p AND pt.tok = b.t
        |      LEFT JOIN uni uw ON pt.tok = uw.tok)
        |SELECT doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN cw IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CASE WHEN i > 1 AND cb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN i > 1 THEN coalesce(cb, 0) ELSE 0 END) AS BIGINT) AS sum_cb,
        |  CAST(sum(coalesce(cw, 0)) AS BIGINT) AS sum_cw
        |FROM j GROUP BY 1""".stripMargin,
    "ns_bpe" -> bpeOracleSql,
    "ns_bpe_fertility" ->
      s"""WITH $bpeEncodeCtes,
         |tc AS (SELECT doc_id, CAST(sum(len(subs)) AS BIGINT) AS ntok FROM e GROUP BY 1),
         |d AS (SELECT doc_id, lang, strlen(text) AS nb FROM documents)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(COALESCE(tc.ntok, 0)) AS BIGINT) AS n_tokens,
         |  CAST(sum(d.nb) AS BIGINT) AS n_bytes,
         |  CAST((1000 * sum(d.nb)) // greatest(sum(COALESCE(tc.ntok, 0)), 1) AS BIGINT) AS bytes_per_token_permille
         |FROM d LEFT JOIN tc ON d.doc_id = tc.doc_id GROUP BY 1""".stripMargin,
    "ns_pii_redact" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 2 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com' ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' card 4111' || lpad(CAST(doc_id AS VARCHAR), 12, '0') ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
        |    AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\+\d{1,2}-\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text, '\b\d{13,16}\b')) AS BIGINT) AS n_ccs,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+\d{1,2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\b\d{13,16}\b', '<CC>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM inj""".stripMargin,
    "ns_decontaminate" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 2), i -> array_to_string(toks[i:i+3], ' '))) END AS grams
        |      FROM tk),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 17 = 0),
        |hits AS (SELECT doc_id, count(*) AS n_hits
        |         FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 17 != 0) cg
        |         JOIN bg USING (gram) GROUP BY doc_id)
        |SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_contaminated_grams,
        |  coalesce(n_hits, 0) >= 1 AS contaminated
        |FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id
        |WHERE g.doc_id % 17 != 0""".stripMargin,
    "ns_split_by_cluster" ->
      """WITH cl AS (SELECT doc_id AS id, doc_id % 37 AS cluster_id FROM documents WHERE doc_id % 2 = 0),
        |j AS (SELECT d.doc_id, d.lang, COALESCE(cl.cluster_id, d.doc_id) AS k
        |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
        |h AS (SELECT doc_id, lang,
        |        (('0x' || substr(md5('graft-split|' || CAST(k AS VARCHAR)), 1, 8))::UBIGINT & 2147483647) % 1000 AS hv
        |      FROM j)
        |SELECT doc_id, lang,
        |  CASE WHEN hv < 800 THEN 'train' WHEN hv < 900 THEN 'val' ELSE 'test' END AS split
        |FROM h""".stripMargin,
    "ns_contamination_report" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 2), i -> array_to_string(toks[i:i+3], ' '))) END AS grams
        |      FROM tk),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 17 = 0),
        |hits AS (SELECT doc_id, count(*) AS n_hits
        |         FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 17 != 0) cg
        |         JOIN bg USING (gram) GROUP BY doc_id),
        |per AS (SELECT g.doc_id, coalesce(n_hits, 0) >= 1 AS contaminated
        |        FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id
        |        WHERE g.doc_id % 17 != 0)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN per.contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST((1000 * sum(CASE WHEN per.contaminated THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS contaminated_permille
        |FROM per JOIN documents d ON per.doc_id = d.doc_id
        |GROUP BY 1""".stripMargin,
    "ns_badwords" ->
      """WITH terms AS (SELECT unnest(['big table', 'slow', 'a', 'nosuchterm']) AS term),
        |hits AS (
        |  SELECT d.doc_id, t.term,
        |         len(list_filter(range(1, length(lower(d.text)) - length(t.term) + 2),
        |             i -> lower(d.text)[i:i + length(t.term) - 1] = t.term)) AS n
        |  FROM documents d CROSS JOIN terms t)
        |SELECT doc_id,
        |       CAST(sum(n) AS BIGINT) AS n_matches,
        |       CAST(count(*) FILTER (WHERE n > 0) AS INT) AS n_distinct_terms,
        |       sum(n) >= 3 AS flagged
        |FROM hits GROUP BY doc_id""".stripMargin,
    "ns_decontaminate_bloom" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 2), i -> array_to_string(toks[i:i+3], ' '))) END AS grams
        |      FROM tk),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 17 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_grams,
        |       count(*) >= 1 AS contaminated
        |FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 17 != 0) cg
        |JOIN bg USING (gram)
        |GROUP BY doc_id""".stripMargin,
    "ns_quality_filter" -> qualityFilterSql,
    "ns_align_scores" ->
      """WITH refr AS (SELECT n_chars AS rv, row_number() OVER (ORDER BY n_chars) AS idx
        |              FROM documents WHERE doc_id < 100),
        |mm AS (SELECT count(*) AS m FROM documents WHERE doc_id < 100),
        |d AS (SELECT lang, doc_id, n_chars,
        |        row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS r,
        |        count(*) OVER (PARTITION BY lang) AS n
        |      FROM documents)
        |SELECT d.lang, d.doc_id, d.n_chars,
        |       CAST((d.r * 1000) // d.n AS BIGINT) AS pct_permille,
        |       refr.rv AS aligned_score
        |FROM d CROSS JOIN mm
        |JOIN refr ON refr.idx = (d.r * mm.m + d.n - 1) // d.n""".stripMargin,
    "ns_filter_funnel" ->
      """WITH a AS (SELECT count(*) AS n,
        |  sum(CASE WHEN NOT coalesce(n_chars >= 100, FALSE) THEN 1 ELSE 0 END) AS k1,
        |  sum(CASE WHEN coalesce(n_chars >= 100, FALSE)
        |            AND NOT coalesce(lang != 'zh', FALSE) THEN 1 ELSE 0 END) AS k2,
        |  sum(CASE WHEN coalesce(n_chars >= 100, FALSE) AND coalesce(lang != 'zh', FALSE)
        |            AND NOT coalesce(length(text) - length(replace(text, ' ', '')) + 1 >= 30, FALSE)
        |           THEN 1 ELSE 0 END) AS k3
        |  FROM documents)
        |SELECT CAST(1 AS BIGINT) AS stage, 'min_chars' AS rule, CAST(n AS BIGINT) AS n_in,
        |       CAST(k1 AS BIGINT) AS n_killed, CAST(n - k1 AS BIGINT) AS n_out,
        |       CAST((k1 * 1000) // n AS BIGINT) AS killed_permille FROM a
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'lang_ok', CAST(n - k1 AS BIGINT), CAST(k2 AS BIGINT),
        |       CAST(n - k1 - k2 AS BIGINT), CAST((k2 * 1000) // (n - k1) AS BIGINT) FROM a
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'min_words', CAST(n - k1 - k2 AS BIGINT), CAST(k3 AS BIGINT),
        |       CAST(n - k1 - k2 - k3 AS BIGINT), CAST((k3 * 1000) // (n - k1 - k2) AS BIGINT) FROM a""".stripMargin,
    "ns_repetition" -> repetitionSql,
    "ns_percentile_rank" ->
      """WITH s AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS score FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY lang) AS n FROM s)
        |SELECT doc_id, lang, score,
        |  CAST(((rk - 1) * 1000) // greatest(n - 1, 1) AS INT) AS permille FROM r""".stripMargin,
    "ns_sample_stratified" ->
      """WITH h AS (SELECT doc_id, lang,
        |  (('0x' || substr(md5('graft|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT & 2147483647) AS hv
        |  FROM documents)
        |SELECT 'rate' AS mode, doc_id, lang FROM h
        |WHERE hv % 1000 < CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 900 WHEN 'es' THEN 500
        |                            WHEN 'fr' THEN 750 WHEN 'zh' THEN 100 ELSE 0 END
        |UNION ALL
        |SELECT 'quota' AS mode, doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk FROM h)
        |WHERE rk <= 20""".stripMargin,
    "ns_pipeline" ->
      """WITH tk AS (
        |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
        |), lang AS (
        |  SELECT doc_id,
        |    CASE WHEN s_de = best AND best > 0 THEN 'de'
        |         WHEN s_en = best AND best > 0 THEN 'en'
        |         WHEN s_es = best AND best > 0 THEN 'es'
        |         WHEN s_fr = best AND best > 0 THEN 'fr'
        |         WHEN s_zh = best AND best > 0 THEN 'zh'
        |         ELSE 'und' END AS lang_pred
        |  FROM (
        |    SELECT doc_id,
        |      len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit'))) AS s_de,
        |      len(list_filter(toks, x -> x IN ('the','and','of','to','is','that','with'))) AS s_en,
        |      len(list_filter(toks, x -> x IN ('el','la','los','las','que','es','con'))) AS s_es,
        |      len(list_filter(toks, x -> x IN ('le','la','les','est','que','avec','pour'))) AS s_fr,
        |      len(list_filter(toks, x -> x IN ('的','是','了','在','我','不'))) AS s_zh,
        |      greatest(
        |        len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit'))),
        |        len(list_filter(toks, x -> x IN ('the','and','of','to','is','that','with'))),
        |        len(list_filter(toks, x -> x IN ('el','la','los','las','que','es','con'))),
        |        len(list_filter(toks, x -> x IN ('le','la','les','est','que','avec','pour'))),
        |        len(list_filter(toks, x -> x IN ('的','是','了','在','我','不')))) AS best
        |    FROM tk)
        |), q AS (
        |  SELECT doc_id,
        |    (len(toks) >= 30
        |     AND CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) >= 4.0
        |     AND len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) >= 2) AS q_keep
        |  FROM tk
        |), rep AS (
        |  SELECT coalesce(md5(text), '∅' || CAST(doc_id AS VARCHAR)) AS digest,
        |         min(doc_id) AS rep_id
        |  FROM documents GROUP BY 1
        |), d0 AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id != r.rep_id THEN 'dedup'
        |         WHEN l.lang_pred != 'en' THEN 'lang'
        |         WHEN NOT q.q_keep THEN 'quality' END AS dropped_at
        |  FROM documents d
        |  JOIN rep r ON coalesce(md5(d.text), '∅' || CAST(d.doc_id AS VARCHAR)) = r.digest
        |  JOIN lang l USING (doc_id) JOIN q USING (doc_id)
        |)
        |SELECT doc_id, dropped_at,
        |  CASE WHEN dropped_at IS NULL THEN
        |    CASE WHEN hv < 800 THEN 'train' WHEN hv < 900 THEN 'val' ELSE 'test' END
        |  END AS split
        |FROM (SELECT *,
        |        (('0x' || substr(md5('graft-split|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |         & 2147483647) % 1000 AS hv
        |      FROM d0)""".stripMargin,
    "ns_dialog_audit" ->
      """WITH msg AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    CASE WHEN event_id % 97 = 0 THEN ''
        |         WHEN event_id % 53 = 0 THEN event_type || ' <|endoftext|>'
        |         ELSE event_type END AS content
        |  FROM events WHERE user_id % 20 = 3),
        |w AS (
        |  SELECT user_id, event_id, role, content,
        |    lag(role) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_role
        |  FROM msg)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  arg_min(role, event_id) AS first_role,
        |  arg_max(role, event_id) AS last_role,
        |  CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT) AS n_role_repeats,
        |  CAST(sum(CASE WHEN trim(content) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        |  CAST(sum(CASE WHEN regexp_matches(content, '<\|[A-Za-z_]+\|>') THEN 1 ELSE 0 END) AS BIGINT) AS n_special
        |FROM w GROUP BY user_id""".stripMargin,
    "ns_token_budget" ->
      """WITH d AS (SELECT source, doc_id, n_chars AS score,
        |             n_chars // 5 AS t FROM documents),
        |w AS (SELECT source, doc_id, score, CAST(t AS BIGINT) AS n_tokens,
        |        CAST(sum(t) OVER (PARTITION BY source ORDER BY score DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |      FROM d)
        |SELECT source, doc_id, score, n_tokens, cum_tokens,
        |  CAST(CASE WHEN cum_tokens <= 3000 THEN 1 ELSE 0 END AS INT) AS selected
        |FROM w""".stripMargin,
    "ns_preference_audit" ->
      """WITH p AS (
        |  SELECT doc_id, text AS chosen,
        |    CASE WHEN doc_id % 7 = 0 THEN text
        |         WHEN doc_id % 11 = 0 THEN ''
        |         ELSE replace(text, 'value', 'worth') END AS rejected
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, chosen, rejected,
        |    CASE WHEN length(trim(chosen)) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(string_split_regex(trim(chosen), '\s+')) AS BIGINT) END AS nc,
        |    CASE WHEN length(trim(rejected)) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(string_split_regex(trim(rejected), '\s+')) AS BIGINT) END AS nr
        |  FROM p)
        |SELECT doc_id,
        |  CAST(CASE WHEN chosen = rejected THEN 1 ELSE 0 END AS INT) AS identical,
        |  CAST(CASE WHEN nc = 0 THEN 1 ELSE 0 END AS INT) AS chosen_empty,
        |  CAST(CASE WHEN nr = 0 THEN 1 ELSE 0 END AS INT) AS rejected_empty,
        |  nc AS n_tokens_chosen, nr AS n_tokens_rejected,
        |  CASE WHEN greatest(nc, nr) = 0 THEN CAST(1000 AS BIGINT)
        |       ELSE CAST((least(nc, nr) * 1000) // greatest(nc, nr) AS BIGINT) END AS len_ratio_permille
        |FROM c""".stripMargin,
    "ns_span_corrupt" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |tn AS (SELECT doc_id, toks, len(toks) AS n FROM tk),
        |rec(doc_id, pos, nf, k, corr, tgt) AS (
        |  SELECT doc_id, -1, 0, 0, '', '' FROM tn
        |  UNION ALL
        |  SELECT r.doc_id, r.pos + 1,
        |    CASE WHEN opens THEN r.pos + 1 + 3 ELSE r.nf END,
        |    CASE WHEN opens THEN r.k + 1 ELSE r.k END,
        |    CASE WHEN opens THEN r.corr || CASE WHEN r.corr = '' THEN '' ELSE ' ' END || '<extra_id_' || CAST(r.k AS VARCHAR) || '>'
        |         WHEN inspan THEN r.corr
        |         ELSE r.corr || CASE WHEN r.corr = '' THEN '' ELSE ' ' END || t END,
        |    CASE WHEN opens THEN r.tgt || CASE WHEN r.tgt = '' THEN '' ELSE ' ' END || '<extra_id_' || CAST(r.k AS VARCHAR) || '>' || ' ' || t
        |         WHEN inspan THEN r.tgt || ' ' || t
        |         ELSE r.tgt END
        |  FROM (
        |    SELECT r0.*, tn.toks[r0.pos + 2] AS t, tn.n,
        |      (r0.pos + 1) < r0.nf AS inspan,
        |      (r0.pos + 1) >= r0.nf AND
        |        (('0x' || substr(md5('graft-span|' || CAST(r0.doc_id AS VARCHAR) || ':' || CAST(r0.pos + 1 AS VARCHAR)), 1, 8))::UBIGINT
        |          & 2147483647) % 1000 < 150 AS opens
        |    FROM rec r0 JOIN tn ON tn.doc_id = r0.doc_id
        |    WHERE r0.pos + 1 < tn.n) r)
        |SELECT r.doc_id, r.corr AS corrupted, r.tgt AS target,
        |  CAST(tn.n AS BIGINT) AS n_tokens, CAST(r.k AS BIGINT) AS n_spans
        |FROM rec r JOIN tn ON tn.doc_id = r.doc_id AND r.pos = tn.n - 1""".stripMargin,
    "ns_word_dropout" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, toks,
        |    list_filter(toks, (x, i) ->
        |      (('0x' || substr(md5('graft-dropout|' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 8))::UBIGINT
        |        & 2147483647) % 1000 >= 200) AS kept
        |  FROM tk)
        |SELECT doc_id, array_to_string(kept, ' ') AS text,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(kept) AS BIGINT) AS n_kept
        |FROM k""".stripMargin,
    "ns_dialog_pipeline" ->
      """WITH RECURSIVE msg AS (
        |  SELECT user_id, event_id,
        |    (CASE WHEN event_id % 97 = 0 THEN ''
        |          WHEN event_id % 53 = 0 THEN event_type || ' <|endoftext|>'
        |          ELSE event_type END) ||
        |    (CASE WHEN event_id % 3 = 0 THEN ' mail u' || CAST(event_id AS VARCHAR) || '@ex.com' ELSE '' END) AS content
        |  FROM events WHERE user_id % 20 = 3),
        |aud AS (SELECT user_id,
        |    sum(CASE WHEN trim(content) = '' THEN 1 ELSE 0 END) AS ne,
        |    sum(CASE WHEN regexp_matches(content, '<\|[A-Za-z_]+\|>') THEN 1 ELSE 0 END) AS ns
        |  FROM msg GROUP BY 1),
        |kept AS (SELECT user_id FROM aud WHERE ne = 0 AND ns <= 1),
        |red AS (SELECT m.user_id, m.event_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(m.content,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+\d{1,2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |      '\b\d{13,16}\b', '<CC>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS content
        |  FROM msg m JOIN kept USING (user_id)),
        |tok AS (SELECT user_id, event_id,
        |    CASE WHEN length(trim(content)) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(string_split_regex(trim(content), '\s+')) AS BIGINT) END AS t,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS pos
        |  FROM red),
        |rec(user_id, pos, cum, chunk) AS (
        |  SELECT user_id, pos, t, CAST(0 AS BIGINT) FROM tok WHERE pos = 0
        |  UNION ALL
        |  SELECT m.user_id, m.pos,
        |    CASE WHEN r.cum > 0 AND r.cum + m.t > 9 THEN m.t ELSE r.cum + m.t END,
        |    CASE WHEN r.cum > 0 AND r.cum + m.t > 9 THEN r.chunk + 1 ELSE r.chunk END
        |  FROM rec r JOIN tok m ON m.user_id = r.user_id AND m.pos = r.pos + 1)
        |SELECT r.user_id, r.pos, r.chunk AS chunk_idx, m.t AS n_tokens
        |FROM rec r JOIN tok m ON m.user_id = r.user_id AND m.pos = r.pos""".stripMargin,
    "ns_dialog_pack" ->
      """WITH RECURSIVE msg AS (
        |  SELECT user_id, event_id,
        |    CAST(event_id % 5 + 1 AS BIGINT) AS t,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS pos
        |  FROM events WHERE user_id % 20 = 3),
        |rec(user_id, pos, cum, chunk) AS (
        |  SELECT user_id, pos, t, CAST(0 AS BIGINT) FROM msg WHERE pos = 0
        |  UNION ALL
        |  SELECT m.user_id, m.pos,
        |    CASE WHEN r.cum > 0 AND r.cum + m.t > 7 THEN m.t ELSE r.cum + m.t END,
        |    CASE WHEN r.cum > 0 AND r.cum + m.t > 7 THEN r.chunk + 1 ELSE r.chunk END
        |  FROM rec r JOIN msg m ON m.user_id = r.user_id AND m.pos = r.pos + 1)
        |SELECT r.user_id, r.pos, r.chunk AS chunk_idx, m.t AS n_tokens
        |FROM rec r JOIN msg m ON m.user_id = r.user_id AND m.pos = r.pos""".stripMargin,
    "ns_dialog_redact" ->
      """WITH msg AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    event_type ||
        |      CASE WHEN event_id % 3 = 0 THEN ' mail u' || CAST(event_id AS VARCHAR) || '@ex.com' ELSE '' END ||
        |      CASE WHEN event_id % 5 = 0 THEN ' ip 10.0.0.' || CAST(event_id % 256 AS VARCHAR) ELSE '' END AS content
        |  FROM events WHERE user_id % 20 = 3)
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS pos,
        |  role,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(content,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+\d{1,2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\b\d{13,16}\b', '<CC>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS content
        |FROM msg""".stripMargin
  )
}
