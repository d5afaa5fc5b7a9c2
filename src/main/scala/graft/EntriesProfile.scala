package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.compile.SpecCompiler
import graft.spec.StreamSpec

/** Profiling & eval tier: corpus profiles, stats audits, agreement metrics, text analysis, multimodal.
  *
  * One tier of the [[SparkEntry]] contract (round-6 split of the 5.5 kLoC
  * registration file: the `queries`/`oracleSql` MAPS are the contract, the
  * file layout is not). Every `queries` entry here must pair with an
  * `oracleSql` entry of the SAME name in the SAME file - derived oracles
  * (ns_pipeline_funnel) are composed in [[SparkEntry.oracleSql]].
  */
private[graft] object EntriesProfile {
  import EntrySupport._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ns_shard_manifest" -> ((s, dir) =>
      // dataset-publishing manifest: 16 portable-hash shards over the
      // documents table, each with rows/bytes/id-range/an order-
      // independent content digest + the balance share — one partial-agg
      // groupBy, every number replayed by the md5 convention in SQL
      graft.ops.Profile.shardManifest(t(s, dir, "documents"),
        "doc_id", "text", shards = 16)),
    "ns_distribution_drift" -> ((s, dir) => {
      // histogram-level drift between two pseudo-snapshots (doc_id
      // parity) on document length: per-bucket shares + the KS max and
      // the Wasserstein-1 sum, both integer-exact cross products
      val docs = t(s, dir, "documents")
      graft.ops.Profile.distributionDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "n_chars", buckets = 20, lo = 0L, hi = 600L)
    }),
    "ns_kripp_alpha" -> ((s, dir) =>
      // panel agreement with MISSING ratings: events quartets act as
      // annotation units (event_id div 4), event_type as the label, and
      // the value filter varies panel size per unit — exactly the ragged
      // shape Cohen's kappa cannot take. Integer-exact via the lcm(1..12)
      // scaling; the oracle replays the coincidence identities in HUGEINT
      graft.ops.Profile.krippendorffAlpha(
        t(s, dir, "events").filter(col("value") >= 5)
          .select(call_function("div", col("event_id"), lit(4L)).as("panel"),
            col("event_type")),
        "panel", "event_type")),
    "ns_ece" -> ((s, dir) =>
      // the model-card headline over the same calibration audit: ECE in
      // milli; composes on the bucket table so bucketing cannot drift
      graft.ops.Profile.expectedCalibrationError(
        graft.ops.Profile.calibrationAudit(
          t(s, dir, "documents").select(
            ((col("doc_id") * 37) % 1001).as("score"),
            when((col("doc_id") * 37) % 1001 > 500,
              when(col("doc_id") % 7 === 0, 0L).otherwise(1L))
              .otherwise(when(col("doc_id") % 11 === 0, 1L).otherwise(0L))
              .as("label")),
          "score", "label", bucketWidth = 100L))),
    "ns_bootstrap" -> ((s, dir) =>
      // deterministic Poisson bootstrap: 32 hash-derived resamples of the
      // doc-length metric; every weight replays from the portable hash
      graft.ops.Profile.bootstrapMeans(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id", replicates = 32)),
    "ns_bootstrap_ci" -> ((s, dir) =>
      // percentile CI over the same 32 replicates (alpha 100 permille:
      // ranks 4 and 29 at B=32); oracle derives from the shared fragment
      graft.ops.Profile.bootstrapCI(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id", replicates = 32, alphaPermille = 100L)),
    "ns_trimmed_stats" -> ((s, dir) =>
      // robust per-language length center: drop the shortest and longest
      // 10% by rank, report the kept band's count/mean/min/max — the
      // score aggregate a few garbage rows cannot drag
      graft.ops.Profile.trimmedStats(
        t(s, dir, "documents").select(col("lang"), col("n_chars")),
        "n_chars", Seq("lang"), trimPermille = 100L)),
    "ns_vocab_coverage" -> ((s, dir) =>
      // tokenizer-design curve: corpus token mass covered by the top-k
      // terms at four candidate vocab sizes; rank rule = vocabulary's
      graft.ops.TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text",
        ks = Seq(5, 15, 30, 100))),
    "ns_texttile" -> ((s, dir) =>
      // topic-aware chunking: 10-token blocks, new chunk when adjacent
      // distinct-token Jaccard drops under 150 permille; per-block
      // boundary decisions replay exactly in DuckDB list ops
      graft.ops.TextAnalysis.textTileBlocks(t(s, dir, "documents"), "text",
        "doc_id", blockTokens = 10, minSimPermille = 150L)),
    "ns_calibration" -> ((s, dir) =>
      // reliability diagram for a synthetic scorer: scores spread over
      // [0, 1000] by residue, labels mostly agree with score > 500 but
      // flip on 7/11 residues — miscalibration the buckets must expose;
      // pure arithmetic, both engines replay it
      graft.ops.Profile.calibrationAudit(
        t(s, dir, "documents").select(
          ((col("doc_id") * 37) % 1001).as("score"),
          when((col("doc_id") * 37) % 1001 > 500,
            when(col("doc_id") % 7 === 0, 0L).otherwise(1L))
            .otherwise(when(col("doc_id") % 11 === 0, 1L).otherwise(0L))
            .as("label")),
        "score", "label", bucketWidth = 100L)),
    "ns_zipf" -> ((s, dir) =>
      // corpus-health gate before tokenizer training: frequency-doubling
      // vocabulary buckets with exact bit-length log2 — both engines
      // compute floor(log2 cnt) as length(bin(cnt)) - 1. The synthetic
      // corpus has a ~31-term template vocabulary (2 buckets — exactly
      // the non-Zipf shape the audit exists to flag), so the gate widens
      // the tail deterministically with per-doc / per-residue tokens to
      // exercise buckets across the whole range
      graft.ops.TextAnalysis.zipfProfile(
        t(s, dir, "documents").select(concat_ws(" ", col("text"),
          concat(lit("u"), col("doc_id").cast("string")),
          concat(lit("v"), (col("doc_id") % 50).cast("string")),
          concat(lit("w"), (col("doc_id") % 7).cast("string"))).as("text")),
        "text")),
    "ns_instr_templates" -> ((s, dir) =>
      // SFT opening-template diversity: first-3-token templates of every
      // document with corpus share; the oracle replays the split/slice
      graft.ops.TextAnalysis.instructionTemplates(
        t(s, dir, "documents"), "text", nTokens = 3)),
    "ns_fleiss_kappa" -> ((s, dir) =>
      // fixed-panel agreement: every document rated by a 4-rater panel
      // with labels derived arithmetically from (doc_id, rater) — both
      // engines replay the panel and the integer-exact kappa identically
      graft.ops.Profile.fleissKappa(
        t(s, dir, "documents").select(col("doc_id"))
          .select(col("doc_id"), explode(sequence(lit(1L), lit(4L))).as("r"))
          .select(col("doc_id").as("item"),
            ((col("doc_id") * (col("r") + 3) +
              call_function("div", col("doc_id"), lit(7L))) % 5).as("label")),
        "item", "label")),
    "ns_lang_segments" -> ((s, dir) =>
      // code-switch audit: per-20-token-segment language prediction and
      // the per-doc mixture rollup; the oracle's marker lists interpolate
      // from TextAnalysis.LangMarkers so the gate cannot drift
      graft.ops.TextAnalysis.langSegments(
        t(s, dir, "documents"), "text", "doc_id", chunkTokens = 20)),
    "ns_gini" -> ((s, dir) =>
      // corpus-concentration headline: how dominated is doc mass per
      // source; tie-invariant coefficient sum makes the milli exact
      graft.ops.Profile.giniByGroup(t(s, dir, "documents"), "n_chars",
        Seq("source"))),
    "ns_balance" -> ((s, dir) =>
      // label balance of event types per deterministic split assignment:
      // inverse-Simpson effective labels, integer-exact (no ln)
      graft.ops.Profile.balanceReport(
        t(s, dir, "events").select(col("event_type"),
          (pmod(col("event_id"), lit(10)) < 8).cast("string").as("split")),
        Seq("split"), "event_type")),
    "ns_confusion" -> ((s, dir) => {
      // per-label precision/recall/F1 on the same rater setup as ns_kappa;
      // F1 in count form (2000·tp div (2tp+fp+fn)) avoids milli rounding
      val e = t(s, dir, "events").select(
        col("event_type").as("gold"),
        when(col("event_id") % 5 === 0, lit("view"))
          .otherwise(col("event_type")).as("pred"))
      graft.ops.Profile.confusionReport(e, "gold", "pred")
    }),
    "ns_kappa" -> ((s, dir) => {
      // rater-agreement QA: rater B disagrees on every 5th event (labels
      // it 'view'); chance-corrected agreement in exact DECIMAL milli
      val e = t(s, dir, "events").select(
        col("event_type").as("ra"),
        when(col("event_id") % 5 === 0, lit("view"))
          .otherwise(col("event_type")).as("rb"))
      graft.ops.Profile.cohenKappa(e, "ra", "rb")
    }),
    "ns_benford" -> ((s, dir) =>
      // first-digit law audit over an organic magnitude (o_totalprice,
      // Benford-ish) and a dense surrogate key (o_custkey, flat — large
      // dev_milli by construction): the audit reports, thresholds are the
      // caller's
      graft.ops.Profile.benfordAudit(t(s, dir, "orders"),
        Seq("o_totalprice", "o_custkey"))),
    "ns_code_signals" -> ((s, dir) => {
      // code-vs-prose router features: five RE2-class regexp counts + two
      // permille ratios, one scan projection, replayed verbatim in DuckDB.
      // The corpus is single-line prose, so the gate derives a mixed corpus
      // deterministically first (chained plain substring replaces — both
      // engines scan left-to-right over the source): statement lines,
      // indented lines, camelCase idents, and fenced blocks on every third
      // doc.
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(
            replace(replace(replace(col("text"),
              lit(" table "), lit(";\n")),
              lit(" row "), lit("\n    ")),
              lit("fast"), lit("fastPath")),
            when(col("doc_id") % 3 === 0,
              lit("\n```\ncode();\n```")).otherwise(lit(""))).as("text"))
        .select(col("doc_id"),
          graft.ops.TextAnalysis.codeSignals(col("text")).as("c"))
        .select(col("doc_id"),
          col("c.n_lines").as("n_lines"),
          col("c.fenced_blocks").as("fenced_blocks"),
          col("c.semi_brace_lines").as("semi_brace_lines"),
          col("c.indented_lines").as("indented_lines"),
          col("c.camel_idents").as("camel_idents"),
          col("c.semi_brace_permille").as("semi_brace_permille"),
          col("c.indent_permille").as("indent_permille"))
    }),
    "ns_sentences" -> ((s, dir) =>
      // sentence rows from the punctuated corpus (same ' value ' -> '. '
      // synthesis as ns_readability); scalarized via posexplode
      t(s, dir, "documents")
        .select(col("doc_id"),
          replace(col("text"), lit(" value "), lit(". ")).as("text"))
        .select(col("doc_id"),
          posexplode(graft.ops.TextAnalysis.sentences(col("text")))
            .as(Seq("pos", "sentence")))),
    "ns_lexical_diversity" -> ((s, dir) =>
      // type-token and hapax ratios per doc; Spark counts hapaxes by
      // sorted-neighbor isolation, the oracle by per-type frequency — two
      // formulations of the same count
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.lexicalDiversity(col("text")).as("d"))
        .select(col("doc_id"),
          col("d.n_tokens").as("n_tokens"),
          col("d.n_types").as("n_types"),
          col("d.ttr_permille").as("ttr_permille"),
          col("d.hapax_permille").as("hapax_permille"))),
    "ns_readability" -> ((s, dir) => {
      // Flesch + FK grade in integer milli-points: three regexp_counts and
      // integer divides — one codegen'd scan projection, replayed in DuckDB
      // with len(regexp_extract_all(...)).
      // sentence punctuation is synthesized deterministically (the corpus
      // is unpunctuated word soup): every " value " becomes a period break
      t(s, dir, "documents")
        .select(col("doc_id"),
          replace(col("text"), lit(" value "), lit(". ")).as("text"))
        .select(col("doc_id"),
          graft.ops.TextAnalysis.readability(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.n_words").as("n_words"),
          col("r.n_sentences").as("n_sentences"),
          col("r.n_syllables").as("n_syllables"),
          col("r.flesch_milli").as("flesch_milli"),
          col("r.fk_grade_milli").as("fk_grade_milli"))
    }),
    "ns_text_profile" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      import graft.ops.TextAnalysis._
      d.select(
        col("doc_id"),
        wsTokenCount(col("text")).as("n_tokens_ws"),
        approxBpeTokenCount(col("text")).as("n_tokens_bpe"),
        qualityMetrics(col("text"), DefaultStopwords).as("q"),
        langScores(col("text")).getField("en").as("en_score"),
        langId(col("text")).as("lang_pred"))
        .select(col("doc_id"), col("n_tokens_ws"), col("n_tokens_bpe"),
          col("q.n_chars").as("n_chars"), col("q.n_words").as("n_words"),
          col("q.mean_word_len").as("mean_word_len"),
          col("q.stopword_ratio").as("stopword_ratio"),
          col("q.punct_ratio").as("punct_ratio"),
          col("en_score"), col("lang_pred"))
    }),
    "ns_sentiment" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), graft.ops.TextAnalysis.sentiment(col("text")).as("snt"))
        .select(col("doc_id"), col("snt.pos_hits").as("pos_hits"),
          col("snt.neg_hits").as("neg_hits"), col("snt.score").as("score"))
    }),
    "ns_fingerprint" -> ((s, dir) => {
      // winnowing: the oracle recomputes every k-gram md5 hash and the
      // window minima in SQL; the output aggregates the fingerprint set so
      // values (not just counts) are hash-compared.
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        graft.functions.text.winnowFingerprint(col("text"), k = 8, w = 4).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          array_min(col("fps")).as("fp_min"),
          array_max(col("fps")).as("fp_max"),
          when(size(col("fps")) === 0, lit(null).cast("long"))
            .otherwise(aggregate(col("fps"), lit(0L), (acc, x) => acc + x)).as("fp_sum"))
    }),
    "ns_vocab" -> ((s, dir) =>
      // corpus frequency table: top-100 tokens seen >= 2 times, ranked
      // (count desc, token asc) — deterministic incl. ties
      graft.ops.TextAnalysis.vocabulary(t(s, dir, "documents"), "text",
        minCount = 2L, topK = 100)),
    "ns_collocations" -> ((s, dir) =>
      // phrase-table gate: top-50 adjacent pairs seen >= 5 times ranked by
      // exact-decimal lift (micro-units) — observed over independence, the
      // transcendental-free PMI stand-in
      graft.ops.TextAnalysis.collocations(t(s, dir, "documents"), "text",
        minCount = 5L, topK = 50)),
    "ns_profile_grouped" -> ((s, dir) =>
      // exact per-language corpus profile (docs, tokens, vocab breadth,
      // nearest-rank length quantiles) — the oracle twin of the
      // sketch-tier groupProfileSketch (gated in ProfileSpec/PlanSpec)
      graft.ops.Profile.groupProfile(t(s, dir, "documents"), "text", "lang")),
    "ns_heavy_hitters" -> ((s, dir) =>
      // top-5 tokens per language, deterministic ties (count desc, token asc)
      graft.ops.Profile.heavyHitters(t(s, dir, "documents"), "text", "lang", 5)),
    "ns_analyze_table" -> ((s, dir) =>
      // ANALYZE-style one-pass column stats on orders (long, string,
      // double, timestamp columns) — exact tier; every value mapped to
      // BIGINT (string = char lengths, double = floor micro-units,
      // timestamp = epoch micros) so the oracle replays per-column.
      graft.ops.Profile.analyzeColumns(t(s, dir, "orders"))),
    "ns_crosstab" -> ((s, dir) =>
      // categorical association gate: lang × source contingency with
      // exact-decimal lift — marginals from windows (null-safe), one
      // cells-sized frame after the first aggregate
      graft.ops.Profile.crossTab(t(s, dir, "documents"), "lang", "source")),
    "ns_fd" -> ((s, dir) => {
      // functional-dependency discovery over three order columns: the key
      // direction holds, the reverses are violated; oracle replays each
      // pair's two-level distinct aggregate
      graft.ops.Profile.functionalDependencies(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderpriority"))
    }),
    "ns_distinctive_terms" -> ((s, dir) =>
      // integer contrastive tf-idf (tf * 1e6 div df) — the FP-log-free
      // ranking replays exactly in DuckDB
      graft.ops.Profile.distinctiveTerms(t(s, dir, "documents"), "text",
        "lang", "doc_id", k = 10)),
    "ns_strip_markup" -> ((s, dir) => {
      // Markup-removal gate: both engines wrap every document in the SAME
      // HTML scaffold (tags, comment, script/style blocks, the named
      // entities) and must extract the identical text. The scaffold is
      // shared via htmlWrapSpark/htmlWrapSqlExpr.
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
        graft.ops.TextAnalysis.stripMarkup(htmlWrapSpark(col("text"))).as("clean"))
    }),
    "ns_script_profile" -> ((s, dir) => {
      // Unicode-script histogram gate: inject fixed non-Latin runs (unicode
      // literals on the Spark side — chr() wraps at 256) so every class has
      // mass; the oracle SQL is GENERATED from the same ScriptClasses table.
      val docs = t(s, dir, "documents")
      val mixed = concat(col("text"), scriptInjectLit)
      graft.ops.TextAnalysis.scriptProfile(
        docs.select(col("doc_id"), mixed.as("text")), "text", "doc_id")
    }),
    "ns_token_drift" -> ((s, dir) => {
      // Integer-exact unigram drift between two pseudo-snapshots (id mod
      // 2): micro-frequency diff² div sum — values AND ranking replay.
      val docs = t(s, dir, "documents")
      graft.ops.Profile.tokenDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", k = 50)
    }),
    "ns_keywords" -> ((s, dir) => {
      // Per-doc top-5 keywords by the integer tf-idf variant (inverse
      // prevalence in permille), df-adaptive stopword drop at 790‰.
      // Integer scores + alphabetical ties make rank/tf/df/score replay
      // exactly in the DuckDB window.
      graft.ops.TextAnalysis.keywords(t(s, dir, "documents"), "text", "doc_id",
        k = 5, minTermLen = 3, maxDfPermille = 790)
    }),
    "ns_profile_drift" -> ((s, dir) => {
      // Shape drift between two pseudo-snapshots (doc_id parity): per
      // (lang, metric) integer deltas of the exact group profile —
      // "did the corpus shape move between releases".
      val docs = t(s, dir, "documents")
      graft.ops.Profile.profileDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", "lang")
    }),
    "ns_multimodal" -> ((s, dir) => {
      val media = graft.ops.Multimodal.fromDocuments(t(s, dir, "documents"), "doc_id", "text", "text/plain")
      // md5-derived metadata (see Multimodal.fromDocuments) lets the oracle
      // recompute n_frames; n_nonzero gates the decode-stub feature output
      // (every ASCII payload byte votes >0 into its dim — so exactly
      // min(n_bytes, dim) feature dims are positive).
      graft.ops.Multimodal.extractFeatures(media, dim = 16).toDF()
        .select(col("media_id"), col("n_frames"), size(col("feature")).as("feat_dim"),
          size(filter(col("feature"), x => x > 0)).as("n_nonzero"))
    }),
    "ns_media_phash" -> ((s, dir) => {
      // 60-bit perceptual hash per media payload. Pure-integer threshold
      // arithmetic (see MediaPHashExpr) and ASCII gate data (byte ==
      // character) make the hash exactly replayable in the DuckDB oracle
      // from per-position-class byte sums.
      val media = graft.ops.Multimodal.fromDocuments(
        t(s, dir, "documents"), "doc_id", "text", "text/plain")
      graft.ops.Multimodal.pHash(media)
    }),
    "ns_media_neardup" -> ((s, dir) => {
      // Banded-pHash near-dup pairs in gate mode (skew cap disabled so the
      // SQL band self-join replays the pair set exactly; the capped scale
      // path is OpsSpec-gated).
      val media = graft.ops.Multimodal.fromDocuments(
        t(s, dir, "documents"), "doc_id", "text", "text/plain")
      graft.ops.Multimodal.phashCandidates(media, maxDist = 3, maxBucket = Int.MaxValue)
    }),
    "ns_length_histogram" -> ((s, dir) => {
      // Integer log2-bucket length histogram per language — bucket is a
      // binary-digit count, so boundaries replay with no FP log.
      graft.ops.Profile.lengthHistogram(t(s, dir, "documents"), "text", "lang")
    }),
    "ns_dataset_card" -> ((s, dir) => {
      // One-call per-language dataset card (exact tier): profile counts +
      // exact dup rate + Gopher-quality keep rate (same thresholds as the
      // ns_quality_filter gate — the oracle reuses that SQL verbatim via
      // qualityFilterSql, so the two gates cannot drift).
      val docs = t(s, dir, "documents")
      val keep = graft.ops.Curation.qualityFilter(docs, "text", "doc_id",
        minWords = 30, maxWords = 10000, minMeanWordLen = 4.0, maxMeanWordLen = 10.0,
        minStopwordHits = 2, minAlphaWordFrac = 0.9,
        maxDupLineFrac = 0.05, maxDupLineCharFrac = 0.05,
        maxDup2gramFrac = 0.08, maxDup3gramFrac = 0.04, lineLen = 2)
        .select(col("doc_id"), col("keep"))
      graft.ops.Profile.datasetCard(
        docs.select("doc_id", "lang", "text").join(keep, "doc_id"),
        "text", "lang", keepCol = Some("keep"))
    }),
    "ns_correlation" -> ((s, dir) => {
      // one-scan Pearson matrix over integer metrics: exact decimal
      // co-moments + the integer-exact BigInteger-isqrt corr tail. The
      // CONTRACT casts the scale-0 decimal co-moments to STRING (plain
      // integer text, identical in Spark and DuckDB) because DECIMAL is
      // the one type generic hash comparators stringify differently per
      // engine path; the operator API keeps decimals.
      val m = graft.ops.Profile.correlationMatrix(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        Seq("o_orderkey", "o_custkey", "cents"))
      m.select(col("col_x"), col("col_y"), col("n"),
        col("sum_x").cast("string").as("sum_x"),
        col("sum_y").cast("string").as("sum_y"),
        col("sum_x2").cast("string").as("sum_x2"),
        col("sum_y2").cast("string").as("sum_y2"),
        col("sum_xy").cast("string").as("sum_xy"),
        col("corr_permille"))
    }),
    "ns_robust_outliers" -> ((s, dir) =>
      // median/MAD spend-spike screen per event type at the 3.5-MAD rule,
      // integer cents — both medians replay as rank windows in the oracle
      graft.ops.Profile.robustOutliers(
        t(s, dir, "events").select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents")),
        "cents", "event_id", Seq("event_type"))),
    "ns_media_frames" -> ((s, dir) => {
      // fixed-stride frame fingerprints (31-bit md5-derived — the oracle
      // recomputes every window hash)
      val media = graft.ops.Multimodal.fromDocuments(
        t(s, dir, "documents"), "doc_id", "text", "text/plain")
      graft.ops.Multimodal.frameFingerprints(media, n = 8, w = 16, stride = 64)
    }),
    "ns_media_keyframes" -> ((s, dir) => {
      // shot-boundary gate: synthesize held shots (block1 ×3 then
      // block2 ×2 of each doc's padded payload) — the keyframe reduction
      // must emit exactly the run starts, replayed fp-for-fp
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(
          repeat(substring(rpad(col("text"), 192, "x"), 1, 64), 3),
          repeat(substring(rpad(col("text"), 192, "x"), 65, 64), 2)).as("text"))
      val media = graft.ops.Multimodal.fromDocuments(
        planted, "doc_id", "text", "text/plain")
      graft.ops.Multimodal.keyframes(media, n = 8, w = 16, stride = 64)
    }),
    "ns_media_frame_neardup" -> ((s, dir) => {
      // frame-overlap near-dup gate: corpus ∪ tail-trimmed copies
      // (media_id + 100000) — fixed-stride anchoring makes each trimmed
      // copy collide with its original on every frame the trim didn't
      // touch, so the pair set is rich and exactly replayable
      val docs = t(s, dir, "documents")
      val trimmed = docs.select((col("doc_id") + 100000).as("doc_id"),
        expr("substr(text, 1, greatest(length(text) - 5, 0))").as("text"))
      val media = graft.ops.Multimodal.fromDocuments(
        docs.select("doc_id", "text").unionByName(trimmed), "doc_id", "text", "text/plain")
      graft.ops.Multimodal.frameNearDupCandidates(media, n = 8, w = 16,
        stride = 64, minShared = 4, maxBucket = Int.MaxValue)
    }),
    "ns_ngram_vocab" -> ((s, dir) =>
      // collocation table: the n>1 face of the vocabulary machinery
      // (same heap-top-K plan, bigram grams)
      graft.ops.TextAnalysis.vocabulary(t(s, dir, "documents"), "text",
        minCount = 2, topK = 100, n = 2))
  )

  /** Shared calibration-bucket fragment: ns_calibration's full oracle,
    * and the base ns_ece derives from (the qualityFilterSql convention —
    * the headline cannot drift from the bucket table).
    */
  private val calibrationSql: String =
    """WITH s AS (SELECT (doc_id * 37) % 1001 AS score,
      |             CASE WHEN (doc_id * 37) % 1001 > 500
      |                  THEN (CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END)
      |                  ELSE (CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)
      |             END AS label
      |           FROM documents),
      |b AS (SELECT score // 100 AS bucket, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(label) AS BIGINT) AS n_pos,
      |             CAST(sum(score) AS BIGINT) AS sum_s
      |      FROM s GROUP BY 1)
      |SELECT bucket, n, n_pos,
      |       CAST(sum_s // n AS BIGINT) AS mean_score_milli,
      |       CAST((n_pos * 1000) // n AS BIGINT) AS observed_permille,
      |       CAST((n_pos * 1000) // n - sum_s // n AS BIGINT) AS gap_milli
      |FROM b""".stripMargin

  /** Shared replicate-means fragment for the bootstrap gates (the
    * qualityFilterSql convention): the CI oracle builds on the SAME
    * resample replay as the means oracle, so the two cannot drift. The
    * Poisson cut points are the frozen constants from
    * [[graft.ops.Profile]] (PoissonCuts31).
    */
  private val bootstrapMeansSql: String =
    s"""WITH br AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v,
      |             unnest(range(1, 33)) AS rep FROM documents),
      |bh AS (SELECT rep, v,
      |         ('0x' || substr(md5('graft-boot|' || CAST(doc_id AS VARCHAR) ||
      |            '|' || CAST(rep AS VARCHAR)), 1, 8))::UBIGINT & 2147483647 AS u
      |       FROM br),
      |bw AS (SELECT rep, v, ${EntrySupport.poissonCutCaseSql} AS w
      |       FROM bh)
      |SELECT rep AS replicate, CAST(sum(w) AS BIGINT) AS n_eff,
      |  CASE WHEN sum(w) > 0 THEN CAST((sum(w * v) * 1000) // sum(w) AS BIGINT)
      |  END AS mean_milli
      |FROM bw GROUP BY 1""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "ns_distribution_drift" ->
      """WITH sp AS (SELECT CAST(unnest(range(20)) AS BIGINT) AS bucket),
        |ca AS (SELECT greatest(0, least(19, n_chars * 20 // 600)) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_a
        |       FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL GROUP BY 1),
        |cb AS (SELECT greatest(0, least(19, n_chars * 20 // 600)) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_b
        |       FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL GROUP BY 1),
        |j AS (SELECT sp.bucket, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |      FROM sp LEFT JOIN ca USING (bucket) LEFT JOIN cb USING (bucket)),
        |c AS (SELECT *, CAST(sum(n_a) OVER (ORDER BY bucket) AS HUGEINT) AS cca,
        |        CAST(sum(n_b) OVER (ORDER BY bucket) AS HUGEINT) AS ccb,
        |        CAST(sum(n_a) OVER () AS HUGEINT) AS ta,
        |        CAST(sum(n_b) OVER () AS HUGEINT) AS tb FROM j),
        |x AS (SELECT *, abs(cca * tb - ccb * ta) AS xx FROM c),
        |m AS (SELECT *, max(xx) OVER () AS mx, sum(xx) OVER () AS sx FROM x)
        |SELECT bucket, n_a, n_b,
        |  CASE WHEN ta > 0 THEN CAST(n_a * 1000 // ta AS BIGINT) END AS share_a_permille,
        |  CASE WHEN tb > 0 THEN CAST(n_b * 1000 // tb AS BIGINT) END AS share_b_permille,
        |  CASE WHEN ta > 0 AND tb > 0 THEN CAST(mx * 1000000 // (ta * tb) AS BIGINT)
        |       END AS ks_micro,
        |  CASE WHEN ta > 0 AND tb > 0 THEN CAST(sx * 1000000 // (ta * tb) AS BIGINT)
        |       END AS emd_micro
        |FROM m""".stripMargin,
    "ns_shard_manifest" ->
      """WITH pr AS (SELECT
        |    CAST((('0x' || substr(md5('graft-shard|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |          & 2147483647) % 16 AS BIGINT) AS shard,
        |    doc_id,
        |    CAST(coalesce(strlen(text), 0) AS BIGINT) AS b,
        |    CAST((('0x' || substr(md5('graft-shard-digest|' || coalesce(text, '')), 1, 8))::UBIGINT
        |          & 2147483647) AS BIGINT) AS h
        |  FROM documents),
        |m AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(b) AS BIGINT) AS bytes,
        |        min(doc_id) AS min_id, max(doc_id) AS max_id,
        |        CAST(CAST(sum(h) AS HUGEINT) % 2305843009213693951 AS BIGINT) AS digest
        |      FROM pr GROUP BY 1),
        |t AS (SELECT CAST(sum(bytes) AS HUGEINT) AS tot FROM m)
        |SELECT shard, n_rows, bytes, min_id, max_id, digest,
        |  CASE WHEN t.tot > 0 THEN CAST((CAST(bytes AS HUGEINT) * 1000) // t.tot AS BIGINT)
        |       ELSE 0 END AS bytes_share_permille
        |FROM m, t""".stripMargin,
    "ns_bootstrap" -> bootstrapMeansSql,
    "ns_bootstrap_ci" ->
      s"""WITH means AS (
         |$bootstrapMeansSql
         |),
         |m AS (SELECT replicate, mean_milli FROM means WHERE mean_milli IS NOT NULL),
         |rk AS (SELECT *, row_number() OVER (ORDER BY mean_milli, replicate) AS rk,
         |              count(*) OVER () AS n FROM m),
         |x AS (SELECT *, greatest((100 * n + 999) // 1000, 1) AS lo_rk FROM rk)
         |SELECT CAST(max(n) AS BIGINT) AS n_replicates,
         |  CAST(sum(mean_milli) // max(n) AS BIGINT) AS point_milli,
         |  CAST(min(CASE WHEN rk = lo_rk THEN mean_milli END) AS BIGINT) AS lo_milli,
         |  CAST(min(CASE WHEN rk = n + 1 - lo_rk THEN mean_milli END) AS BIGINT) AS hi_milli
         |FROM x""".stripMargin,
    "ns_kripp_alpha" ->
      """WITH r AS (SELECT event_id // 4 AS u, event_type AS c FROM events WHERE value >= 5),
        |cnt AS (SELECT u, c, CAST(count(*) AS HUGEINT) AS k FROM r GROUP BY 1, 2),
        |unit AS (SELECT u, sum(k) AS m, sum(k*k) AS ss FROM cnt GROUP BY 1 HAVING sum(k) >= 2),
        |terms AS (SELECT u, m, (m*m - ss) * (27720 // (m - 1)) AS s FROM unit),
        |gl AS (SELECT coalesce(sum(s), 0) AS S, coalesce(sum(m), 0) AS n,
        |              CAST(count(*) AS BIGINT) AS n_units FROM terms),
        |lt AS (SELECT c, sum(k) AS nc FROM cnt JOIN unit USING (u) GROUP BY 1),
        |lab AS (SELECT coalesce(sum(nc*nc), 0) AS sum_nc2,
        |               CAST(count(*) AS BIGINT) AS n_labels FROM lt)
        |SELECT n_units, CAST(n AS BIGINT) AS n_ratings, n_labels,
        |  CASE WHEN 27720 * (n*n - sum_nc2) = 0 THEN NULL
        |       ELSE CAST((1000 * (27720 * (n*n - sum_nc2) - (n - 1) * S))
        |                 // (27720 * (n*n - sum_nc2)) AS BIGINT) END AS alpha_milli
        |FROM gl, lab""".stripMargin,
    "ns_trimmed_stats" ->
      """WITH r AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
        |             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rk,
        |             count(*) OVER (PARTITION BY lang) AS n
        |           FROM documents WHERE n_chars IS NOT NULL),
        |k AS (SELECT *, (n * 100) // 1000 AS kk FROM r)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n,
        |  CAST(2 * max(kk) AS BIGINT) AS n_trimmed,
        |  CAST(coalesce(sum(CASE WHEN rk > kk AND rk <= n - kk THEN 1 END), 0) AS BIGINT)
        |    AS n_kept,
        |  CASE WHEN coalesce(sum(CASE WHEN rk > kk AND rk <= n - kk THEN 1 END), 0) > 0
        |       THEN CAST(sum(CASE WHEN rk > kk AND rk <= n - kk THEN v END)
        |            // sum(CASE WHEN rk > kk AND rk <= n - kk THEN 1 END) AS BIGINT)
        |  END AS mean_kept,
        |  CAST(min(CASE WHEN rk > kk AND rk <= n - kk THEN v END) AS BIGINT) AS min_kept,
        |  CAST(max(CASE WHEN rk > kk AND rk <= n - kk THEN v END) AS BIGINT) AS max_kept
        |FROM k GROUP BY lang""".stripMargin,
    "ns_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rk FROM c),
        |cells AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS total,
        |  CAST(coalesce(sum(CASE WHEN rk <= 5 THEN cnt END), 0) AS BIGINT) AS c5,
        |  CAST(coalesce(sum(CASE WHEN rk <= 15 THEN cnt END), 0) AS BIGINT) AS c15,
        |  CAST(coalesce(sum(CASE WHEN rk <= 30 THEN cnt END), 0) AS BIGINT) AS c30,
        |  CAST(coalesce(sum(CASE WHEN rk <= 100 THEN cnt END), 0) AS BIGINT) AS c100
        |  FROM r),
        |u AS (SELECT CAST(5 AS BIGINT) AS k, c5 AS covered_tokens, total AS total_tokens FROM cells
        |      UNION ALL SELECT 15, c15, total FROM cells
        |      UNION ALL SELECT 30, c30, total FROM cells
        |      UNION ALL SELECT 100, c100, total FROM cells)
        |SELECT k, covered_tokens, total_tokens,
        |       CASE WHEN total_tokens > 0
        |            THEN CAST((covered_tokens * 1000) // total_tokens AS BIGINT)
        |            ELSE 0 END AS coverage_permille
        |FROM u""".stripMargin,
    "ns_texttile" ->
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
        |           FROM documents WHERE len(trim(text)) > 0),
        |b AS (SELECT doc_id, CAST(i AS BIGINT) AS block_idx,
        |        list_slice(tk, CAST(i * 10 + 1 AS INT), CAST(i * 10 + 10 AS INT)) AS blk
        |      FROM (SELECT doc_id, tk, unnest(range((len(tk) + 9) // 10)) AS i FROM d)),
        |s AS (SELECT doc_id, block_idx, blk, list_distinct(blk) AS db,
        |        lag(list_distinct(blk)) OVER (PARTITION BY doc_id ORDER BY block_idx) AS prev
        |      FROM b),
        |t AS (SELECT doc_id, block_idx, CAST(len(blk) AS BIGINT) AS n_tokens,
        |        CASE WHEN prev IS NULL THEN NULL
        |             WHEN len(prev) + len(db) - len(list_intersect(prev, db)) <= 0 THEN 0
        |             ELSE CAST((len(list_intersect(prev, db)) * 1000)
        |                  // (len(prev) + len(db) - len(list_intersect(prev, db))) AS BIGINT)
        |        END AS sim_prev_permille
        |      FROM s)
        |SELECT doc_id, block_idx, n_tokens, sim_prev_permille,
        |       (sim_prev_permille IS NULL OR sim_prev_permille < 150) AS new_chunk,
        |       CAST(sum(CASE WHEN sim_prev_permille IS NULL
        |                       OR sim_prev_permille < 150 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY block_idx
        |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS chunk_id
        |FROM t""".stripMargin,
    "ns_calibration" -> calibrationSql,
    "ns_ece" ->
      s"""WITH cal AS (
         |$calibrationSql
         |)
         |SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
         |       CASE WHEN coalesce(sum(n), 0) > 0
         |            THEN CAST(sum(n * abs(gap_milli)) // sum(n) AS BIGINT)
         |       END AS ece_milli
         |FROM cal""".stripMargin,
    "ns_zipf" ->
      """WITH d AS (SELECT text || ' u' || CAST(doc_id AS VARCHAR)
        |             || ' v' || CAST(doc_id % 50 AS VARCHAR)
        |             || ' w' || CAST(doc_id % 7 AS VARCHAR) AS text FROM documents),
        |toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM d),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        |b AS (SELECT CAST(length(bin(cnt)) - 1 AS BIGINT) AS bucket,
        |             CAST(count(*) AS BIGINT) AS n_terms,
        |             CAST(sum(cnt) AS BIGINT) AS n_tokens
        |      FROM c GROUP BY 1),
        |w AS (SELECT *, sum(n_tokens) OVER () AS total,
        |             lag(n_terms) OVER (ORDER BY bucket) AS prev FROM b)
        |SELECT bucket, n_terms, n_tokens,
        |       CAST((n_tokens * 1000) // total AS BIGINT) AS token_share_permille,
        |       CASE WHEN prev IS NOT NULL THEN CAST((n_terms * 1000) // prev AS BIGINT)
        |            ELSE NULL END AS decay_permille
        |FROM w""".stripMargin,
    "ns_instr_templates" ->
      """WITH tpl AS (
        |  SELECT array_to_string(
        |           string_split_regex(trim(lower(coalesce(text, ''))), '\s+')[1:3], ' ')
        |           AS template
        |  FROM documents),
        |c AS (SELECT template, CAST(count(*) AS BIGINT) AS n_docs FROM tpl GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS total FROM c)
        |SELECT template, n_docs, CAST((n_docs * 1000) // total AS BIGINT) AS share_permille
        |FROM c, t""".stripMargin,
    "ns_fleiss_kappa" ->
      """WITH rt AS (SELECT doc_id AS item,
        |              (doc_id * (rr + 3) + doc_id // 7) % 5 AS label
        |            FROM (SELECT doc_id, unnest(range(1, 5)) AS rr FROM documents)),
        |cnt AS (SELECT item, label, CAST(count(*) AS HUGEINT) AS k FROM rt GROUP BY 1, 2),
        |unit AS (SELECT item, sum(k) AS m, sum(k*k) AS ss FROM cnt GROUP BY 1),
        |gl AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
        |              coalesce(min(m), 0) AS mn, coalesce(max(m), 0) AS mx,
        |              coalesce(sum(ss), 0) AS sum_ss FROM unit),
        |lab AS (SELECT coalesce(sum(nc*nc), 0) AS sum_nc2,
        |               CAST(count(*) AS BIGINT) AS n_labels
        |        FROM (SELECT label, sum(k) AS nc FROM cnt GROUP BY 1))
        |SELECT n_items, CAST(mx AS BIGINT) AS n_raters, n_labels,
        |  CASE WHEN mx < 2 OR (n_items * mx) * (mx - 1)
        |         * ((n_items * mx) * (n_items * mx) - sum_nc2) = 0 THEN NULL
        |       ELSE CAST((1000 * ((sum_ss - n_items * mx)
        |                    * ((n_items * mx) * (n_items * mx))
        |                  - sum_nc2 * (n_items * mx) * (mx - 1)))
        |            // ((n_items * mx) * (mx - 1)
        |               * ((n_items * mx) * (n_items * mx) - sum_nc2)) AS BIGINT)
        |  END AS kappa_milli
        |FROM gl, lab""".stripMargin,
    "ns_lang_segments" -> langSegmentsSql(20),
    "ns_length_histogram" ->
      """WITH d AS (
        |  SELECT lang, CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents)
        |SELECT lang, CAST(length(bin(n)) - 1 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS total_tokens,
        |       CAST(min(n) AS BIGINT) AS min_tokens,
        |       CAST(max(n) AS BIGINT) AS max_tokens
        |FROM d GROUP BY 1, 2""".stripMargin,
    "ns_dataset_card" ->
      s"""WITH qf AS ($qualityFilterSql),
         |d AS (
         |  SELECT doc_id, lang, text,
         |         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n
         |  FROM documents),
         |b AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(n) AS BIGINT) AS total_tokens,
         |             CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_docs
         |      FROM d GROUP BY 1),
         |r AS (SELECT lang, n, row_number() OVER (PARTITION BY lang ORDER BY n) AS rn,
         |             count(*) OVER (PARTITION BY lang) AS cnt FROM d),
         |q AS (SELECT lang,
         |        max(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT) THEN n END) AS p50_tokens,
         |        max(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT) THEN n END) AS p90_tokens
         |      FROM r GROUP BY 1),
         |tk AS (SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |       FROM documents),
         |dt AS (SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
         |       FROM tk GROUP BY 1),
         |kp AS (SELECT d.lang, CAST(sum(CASE WHEN qf.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |       FROM d JOIN qf USING (doc_id) GROUP BY 1)
         |SELECT b.lang, n_docs, total_tokens, distinct_tokens, p50_tokens, p90_tokens,
         |       n_chars, n_distinct_docs,
         |       CAST((1000 * (n_docs - n_distinct_docs)) // n_docs AS BIGINT) AS dup_permille,
         |       n_kept, CAST((1000 * n_kept) // n_docs AS BIGINT) AS keep_permille
         |FROM b JOIN dt USING (lang) JOIN q USING (lang) JOIN kp USING (lang)""".stripMargin,
    "ns_correlation" ->
      """WITH v AS (SELECT CAST(o_orderkey AS HUGEINT) AS a, CAST(o_custkey AS HUGEINT) AS b,
        |                  CAST(round(o_totalprice * 100) AS HUGEINT) AS c FROM orders),
        |s AS (SELECT count(*) AS n, sum(a) AS sa, sum(b) AS sb, sum(c) AS sc,
        |             sum(a*a) AS qa, sum(b*b) AS qb, sum(c*c) AS qc,
        |             sum(a*b) AS xab, sum(a*c) AS xac, sum(b*c) AS xbc FROM v),
        |p AS (
        |  SELECT 'o_orderkey' AS col_x, 'o_custkey' AS col_y, n, sa AS sum_x, sb AS sum_y,
        |         qa AS sum_x2, qb AS sum_y2, xab AS sum_xy FROM s
        |  UNION ALL SELECT 'o_orderkey', 'cents', n, sa, sc, qa, qc, xac FROM s
        |  UNION ALL SELECT 'o_custkey', 'cents', n, sb, sc, qb, qc, xbc FROM s)
        |SELECT col_x, col_y, CAST(n AS BIGINT) AS n,
        |  CAST(sum_x AS VARCHAR) AS sum_x, CAST(sum_y AS VARCHAR) AS sum_y,
        |  CAST(sum_x2 AS VARCHAR) AS sum_x2, CAST(sum_y2 AS VARCHAR) AS sum_y2,
        |  CAST(sum_xy AS VARCHAR) AS sum_xy,
        |  CASE WHEN (n*sum_x2 - sum_x*sum_x) > 0 AND (n*sum_y2 - sum_y*sum_y) > 0 THEN
        |    CAST(round(1000.0 * CAST(n*sum_xy - sum_x*sum_y AS DOUBLE) /
        |      (sqrt(CAST(n*sum_x2 - sum_x*sum_x AS DOUBLE)) *
        |       sqrt(CAST(n*sum_y2 - sum_y*sum_y AS DOUBLE)))) AS BIGINT)
        |  END AS corr_permille
        |FROM p""".stripMargin,
    "ns_robust_outliers" ->
      """WITH e AS (SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |m AS (SELECT event_type, max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med FROM r GROUP BY 1),
        |d AS (SELECT e.*, m.med, abs(e.cents - m.med) AS dev FROM e JOIN m USING (event_type)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |md AS (SELECT event_type, max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad FROM r2 GROUP BY 1)
        |SELECT d.event_type, d.event_id, d.cents, d.med, md.mad, d.dev
        |FROM d JOIN md USING (event_type)
        |WHERE d.dev * 1000 > 3500 * md.mad""".stripMargin,
    "ns_fingerprint" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) < 8 THEN []
        |         ELSE list_transform(range(1, length(text) - 6), i ->
        |           ('0x' || substr(md5(substr(text, i, 8)), 1, 8))::UBIGINT & 2147483647) END AS hs
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, CASE WHEN len(hs) = 0 THEN []
        |    WHEN len(hs) <= 4 THEN [list_min(hs)]
        |    ELSE list_distinct(list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3]))) END AS fps
        |  FROM h
        |)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, CAST(list_min(fps) AS BIGINT) AS fp_min,
        |       CAST(list_max(fps) AS BIGINT) AS fp_max, CAST(list_sum(fps) AS BIGINT) AS fp_sum
        |FROM f""".stripMargin,
    "ns_profile_grouped" ->
      """WITH d AS (
        |  SELECT lang, CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n) AS BIGINT) AS total_tokens FROM d GROUP BY 1),
        |r AS (SELECT lang, n, row_number() OVER (PARTITION BY lang ORDER BY n) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS cnt FROM d),
        |q AS (SELECT lang,
        |        max(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT) THEN n END) AS p50_tokens,
        |        max(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT) THEN n END) AS p90_tokens
        |      FROM r GROUP BY 1),
        |tk AS (SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |       FROM documents),
        |dt AS (SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
        |       FROM tk GROUP BY 1)
        |SELECT b.lang, n_docs, total_tokens, distinct_tokens, p50_tokens, p90_tokens
        |FROM b JOIN dt USING (lang) JOIN q USING (lang)""".stripMargin,
    "ns_profile_drift" ->
      s"""WITH ${profileSideCtes("x", "WHERE doc_id % 2 = 0")},
         |${profileSideCtes("y", "WHERE doc_id % 2 = 1")},
         |j AS (SELECT coalesce(xp.lang, yp.lang) AS lang,
         |        coalesce(xp.n_docs, 0) AS a_n_docs, coalesce(yp.n_docs, 0) AS b_n_docs,
         |        coalesce(xp.total_tokens, 0) AS a_tt, coalesce(yp.total_tokens, 0) AS b_tt,
         |        coalesce(xp.distinct_tokens, 0) AS a_dt, coalesce(yp.distinct_tokens, 0) AS b_dt,
         |        coalesce(xp.p50_tokens, 0) AS a_p50, coalesce(yp.p50_tokens, 0) AS b_p50,
         |        coalesce(xp.p90_tokens, 0) AS a_p90, coalesce(yp.p90_tokens, 0) AS b_p90
         |      FROM xp FULL OUTER JOIN yp ON xp.lang = yp.lang),
         |u AS (
         |  SELECT lang, 'n_docs' AS metric, a_n_docs AS v_a, b_n_docs AS v_b FROM j
         |  UNION ALL SELECT lang, 'total_tokens', a_tt, b_tt FROM j
         |  UNION ALL SELECT lang, 'distinct_tokens', a_dt, b_dt FROM j
         |  UNION ALL SELECT lang, 'p50_tokens', a_p50, b_p50 FROM j
         |  UNION ALL SELECT lang, 'p90_tokens', a_p90, b_p90 FROM j)
         |SELECT lang, metric, v_a, v_b, v_b - v_a AS delta,
         |       ((v_b - v_a) * 1000) // greatest(v_a, 1) AS delta_permille
         |FROM u""".stripMargin,
    "ns_crosstab" ->
      """WITH c AS (SELECT lang, source, CAST(count(*) AS HUGEINT) AS n
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT lang, source, CAST(n AS BIGINT) AS n,
        |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_a,
        |  CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_b,
        |  CAST((1000000::HUGEINT * n * (SELECT total FROM t)) //
        |       (sum(n) OVER (PARTITION BY lang) * sum(n) OVER (PARTITION BY source)) AS BIGINT) AS lift_micro
        |FROM c""".stripMargin,
    "ns_fd" ->
      """SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
        |       CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
        |       sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS holds
        |FROM (SELECT l, count(*) AS nr FROM
        |      (SELECT DISTINCT o_orderkey AS l, o_custkey AS r FROM orders) GROUP BY 1)
        |UNION ALL
        |SELECT 'o_orderkey', 'o_orderpriority', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |       sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
        |FROM (SELECT l, count(*) AS nr FROM
        |      (SELECT DISTINCT o_orderkey AS l, o_orderpriority AS r FROM orders) GROUP BY 1)
        |UNION ALL
        |SELECT 'o_custkey', 'o_orderkey', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |       sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
        |FROM (SELECT l, count(*) AS nr FROM
        |      (SELECT DISTINCT o_custkey AS l, o_orderkey AS r FROM orders) GROUP BY 1)
        |UNION ALL
        |SELECT 'o_custkey', 'o_orderpriority', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |       sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
        |FROM (SELECT l, count(*) AS nr FROM
        |      (SELECT DISTINCT o_custkey AS l, o_orderpriority AS r FROM orders) GROUP BY 1)
        |UNION ALL
        |SELECT 'o_orderpriority', 'o_orderkey', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |       sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
        |FROM (SELECT l, count(*) AS nr FROM
        |      (SELECT DISTINCT o_orderpriority AS l, o_orderkey AS r FROM orders) GROUP BY 1)
        |UNION ALL
        |SELECT 'o_orderpriority', 'o_custkey', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |       sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
        |FROM (SELECT l, count(*) AS nr FROM
        |      (SELECT DISTINCT o_orderpriority AS l, o_custkey AS r FROM orders) GROUP BY 1)""".stripMargin,
    "ns_heavy_hitters" ->
      """WITH tk AS (
        |  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1, 2),
        |rk AS (SELECT lang, tok, cnt,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS BIGINT) AS rank
        |       FROM c)
        |SELECT lang, tok, cnt, rank FROM rk WHERE rank <= 5""".stripMargin,
    "ns_analyze_table" -> {
      // GENERATED per orders column from the same type mapping the
      // operator applies (see Profile.analyzeColumns scaladoc) — the two
      // sides cannot drift independently of this list.
      def rows(c: String, kind: String): Seq[String] = {
        val base = Seq(
          s"SELECT '$c' AS col_name, 'n_null' AS metric, CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value FROM orders",
          s"SELECT '$c', 'n_distinct', CAST(COUNT(DISTINCT $c) AS BIGINT) FROM orders")
        val rng = kind match {
          case "long" => Seq(
            s"SELECT '$c', 'min_v', CAST(MIN($c) AS BIGINT) FROM orders",
            s"SELECT '$c', 'max_v', CAST(MAX($c) AS BIGINT) FROM orders")
          case "str" => Seq(
            s"SELECT '$c', 'min_v', CAST(MIN(length($c)) AS BIGINT) FROM orders",
            s"SELECT '$c', 'max_v', CAST(MAX(length($c)) AS BIGINT) FROM orders",
            s"SELECT '$c', 'len_total', CAST(SUM(length($c)) AS BIGINT) FROM orders")
          case "dbl" => Seq(
            s"SELECT '$c', 'min_v', CAST(FLOOR(MIN($c) * 1e6) AS BIGINT) FROM orders",
            s"SELECT '$c', 'max_v', CAST(FLOOR(MAX($c) * 1e6) AS BIGINT) FROM orders")
          case "ts" => Seq(
            s"SELECT '$c', 'min_v', epoch_us(MIN($c)) FROM orders",
            s"SELECT '$c', 'max_v', epoch_us(MAX($c)) FROM orders")
        }
        base ++ rng
      }
      (rows("o_orderkey", "long") ++ rows("o_custkey", "long") ++
        rows("o_orderstatus", "str") ++ rows("o_totalprice", "dbl") ++
        rows("o_orderdate", "ts") ++ rows("o_orderpriority", "str"))
        .mkString("\nUNION ALL ")
    },
    "ns_vocab" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1 HAVING count(*) >= 2),
        |k AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 100)
        |SELECT token, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
        |FROM k""".stripMargin,
    "ns_collocations" ->
      """WITH toks AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
        |tot AS (SELECT CAST(sum(len(tk)) AS HUGEINT) AS u,
        |               CAST(sum(greatest(len(tk) - 1, 0)) AS HUGEINT) AS b FROM toks),
        |uni AS (SELECT unnest(tk) AS tok FROM toks),
        |cx AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |prs AS (SELECT tk[CAST(i AS INT)] AS tok_a, tk[CAST(i + 1 AS INT)] AS tok_b
        |        FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks WHERE len(tk) >= 2)),
        |pc AS (SELECT tok_a, tok_b, count(*) AS pair_cnt FROM prs GROUP BY 1, 2 HAVING count(*) >= 5),
        |sc AS (SELECT pc.tok_a, pc.tok_b, pc.pair_cnt, ca.c AS cnt_a, cb.c AS cnt_b,
        |       CAST((1000000::HUGEINT * pc.pair_cnt * u * u) // (b * ca.c * cb.c) AS BIGINT) AS lift_micro
        |       FROM pc JOIN cx ca ON pc.tok_a = ca.tok JOIN cx cb ON pc.tok_b = cb.tok, tot),
        |k AS (SELECT * FROM sc ORDER BY lift_micro DESC, tok_a, tok_b LIMIT 50)
        |SELECT tok_a, tok_b, CAST(pair_cnt AS BIGINT) AS pair_cnt,
        |       CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b, lift_micro,
        |       CAST(row_number() OVER (ORDER BY lift_micro DESC, tok_a, tok_b) AS BIGINT) AS rank
        |FROM k""".stripMargin,
    "ns_media_frames" ->
      """SELECT doc_id AS media_id, CAST(f AS INT) AS frame,
        |  CAST(('0x' || substr(md5(substr(text, CAST(f * 64 + 1 AS INT), 16)), 1, 8))::UBIGINT
        |       & 2147483647 AS BIGINT) AS fp
        |FROM (SELECT doc_id, text, unnest(range(8)) AS f FROM documents)
        |WHERE f * 64 + 16 <= length(text)""".stripMargin,
    "ns_media_keyframes" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |      repeat(substr(rpad(text, 192, 'x'), 1, 64), 3) ||
        |      repeat(substr(rpad(text, 192, 'x'), 65, 64), 2) AS p
        |    FROM documents),
        |fr AS (SELECT media_id, f AS frame,
        |      CAST(('0x' || substr(md5(substr(p, CAST(f * 64 + 1 AS INT), 16)), 1, 8))::UBIGINT
        |           & 2147483647 AS BIGINT) AS fp
        |    FROM (SELECT media_id, p, unnest(range(8)) AS f FROM m)
        |    WHERE f * 64 + 16 <= length(p)),
        |k AS (SELECT media_id, frame, fp,
        |        lag(fp) OVER (PARTITION BY media_id ORDER BY frame) AS prev FROM fr)
        |SELECT media_id, CAST(frame AS INT) AS keyframe, fp
        |FROM k WHERE prev IS NULL OR prev != fp""".stripMargin,
    "ns_media_frame_neardup" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, substr(text, 1, greatest(length(text) - 5, 0)) FROM documents
        |), fr AS (
        |  SELECT media_id, f AS frame,
        |    ('0x' || substr(md5(substr(text, CAST(f * 64 + 1 AS INT), 16)), 1, 8))::UBIGINT
        |      & 2147483647 AS fp
        |  FROM (SELECT media_id, text, unnest(range(8)) AS f FROM m)
        |  WHERE f * 64 + 16 <= length(text)
        |)
        |SELECT a.media_id AS idA, b.media_id AS idB, count(*)::BIGINT AS n_shared
        |FROM fr a JOIN fr b ON a.frame = b.frame AND a.fp = b.fp AND a.media_id < b.media_id
        |GROUP BY 1, 2 HAVING count(*) >= 4""".stripMargin,
    "ns_ngram_vocab" ->
      """WITH tk AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) END) AS token
        |  FROM tk),
        |c AS (SELECT token, count(*) AS cnt FROM g GROUP BY 1 HAVING count(*) >= 2),
        |k AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 100)
        |SELECT token, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
        |FROM k""".stripMargin,
    "ns_keywords" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |f AS (SELECT doc_id, term, count(*) AS tf FROM tk WHERE len(term) >= 3 GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT f.doc_id, f.term, f.tf, dfq.df,
        |    f.tf * (((n.n_docs - dfq.df) * 1000) // n.n_docs) AS score
        |  FROM f JOIN dfq USING (term) CROSS JOIN n
        |  WHERE (dfq.df * 1000) // n.n_docs <= 790),
        |r AS (
        |  SELECT doc_id, term, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS kw_rank
        |  FROM sc)
        |SELECT doc_id, kw_rank, term, tf, df, score FROM r WHERE kw_rank <= 5""".stripMargin,
    "ns_distinctive_terms" ->
      """WITH tk AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |occ AS (SELECT lang, unnest(toks) AS tok FROM tk),
        |tf AS (SELECT lang, tok, count(*) AS tf FROM occ GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, unnest(list_distinct(toks)) AS tok FROM tk) GROUP BY 1),
        |sc AS (SELECT lang, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |         (tf * 1000000) // df AS score FROM tf JOIN dfq USING (tok)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, tok) AS rank FROM sc)
        |SELECT lang, tok, tf, df, CAST(score AS BIGINT) AS score, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 10""".stripMargin,
    "ns_strip_markup" -> stripMarkupSql,
    "ns_script_profile" -> scriptProfileSql,
    "ns_token_drift" ->
      """WITH ta AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |            FROM documents WHERE doc_id % 2 = 0),
        |tb AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |       FROM documents WHERE doc_id % 2 = 1),
        |ca AS (SELECT tok, count(*) AS cnt_a FROM ta GROUP BY 1),
        |cb AS (SELECT tok, count(*) AS cnt_b FROM tb GROUP BY 1),
        |j AS (SELECT COALESCE(ca.tok, cb.tok) AS tok,
        |        COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |      FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
        |t AS (SELECT greatest(CAST((SELECT sum(cnt_a) FROM j) AS BIGINT), 1) AS tta,
        |        greatest(CAST((SELECT sum(cnt_b) FROM j) AS BIGINT), 1) AS ttb),
        |f AS (SELECT tok, cnt_a, cnt_b,
        |        (cnt_a * 1000000) // tta AS freq_a,
        |        (cnt_b * 1000000) // ttb AS freq_b FROM j, t),
        |c AS (SELECT *, CASE WHEN freq_a + freq_b = 0 THEN 0
        |        ELSE ((freq_a - freq_b) * (freq_a - freq_b)) // (freq_a + freq_b) END AS contrib
        |      FROM f),
        |r AS (SELECT *, row_number() OVER (ORDER BY contrib DESC, tok) AS rank FROM c)
        |SELECT tok, cnt_a, cnt_b, freq_a, freq_b, CAST(contrib AS BIGINT) AS contrib,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 50""".stripMargin,
    "ns_multimodal" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(greatest(1, ((('0x'||substr(md5(text||'d'),1,8))::UBIGINT & 2147483647) % 600000) // 40000) AS INT) AS n_frames,
        |  16 AS feat_dim, CAST(least(length(text), 16) AS INT) AS n_nonzero
        |FROM documents""".stripMargin,
    "ns_media_phash" ->
      s"""$phashCteSql
        |SELECT doc_id AS media_id, phash FROM bits""".stripMargin,
    "ns_media_neardup" ->
      s"""$phashCteSql,
        |bands AS (
        |  SELECT doc_id, phash, CAST(b AS INT) AS band,
        |         (phash >> CAST(15 * b AS INT)) & 32767 AS chunk
        |  FROM (SELECT doc_id, phash, unnest(range(4)) AS b FROM bits))
        |SELECT DISTINCT a.doc_id AS idA, c.doc_id AS idB,
        |       bit_count(xor(a.phash, c.phash))::INT AS hamming
        |FROM bands a JOIN bands c USING (band, chunk)
        |WHERE a.doc_id < c.doc_id AND bit_count(xor(a.phash, c.phash)) <= 3""".stripMargin,
    "ns_sentiment" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> x IN ('good','great','excellent','fast','love','best','happy','win','nice','cool'))) AS BIGINT) AS pos_hits,
        |  CAST(len(list_filter(toks, x -> x IN ('bad','terrible','slow','hate','worst','sad','fail','poor','wrong','broken'))) AS BIGINT) AS neg_hits,
        |  CAST(len(list_filter(toks, x -> x IN ('good','great','excellent','fast','love','best','happy','win','nice','cool')))
        |     - len(list_filter(toks, x -> x IN ('bad','terrible','slow','hate','worst','sad','fail','poor','wrong','broken'))) AS DOUBLE)
        |    / greatest(len(toks), 1) AS score
        |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)""".stripMargin,
    "ns_balance" ->
      """WITH b AS (
        |  SELECT CAST(event_id % 10 < 8 AS VARCHAR) AS split, event_type AS l
        |  FROM events),
        |cells AS (SELECT split, l, CAST(count(*) AS HUGEINT) AS c FROM b GROUP BY 1, 2),
        |r AS (SELECT split, sum(c) AS n, count(*) AS k, max(c) AS maj,
        |        sum(c * c) AS sq
        |      FROM cells GROUP BY 1)
        |SELECT split, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS n_labels,
        |  CAST((1000 * maj) // n AS BIGINT) AS majority_share_milli,
        |  CAST((1000 * n * n) // sq AS BIGINT) AS effective_labels_milli
        |FROM r""".stripMargin,
    "ns_confusion" ->
      """WITH pr AS (SELECT event_type AS g,
        |              CASE WHEN event_id % 5 = 0 THEN 'view' ELSE event_type END AS p
        |            FROM events),
        |cells AS (SELECT g, p, CAST(count(*) AS HUGEINT) AS n FROM pr GROUP BY 1, 2),
        |gold AS (SELECT g AS label, sum(n) AS n_gold,
        |           coalesce(sum(CASE WHEN g = p THEN n END), 0) AS tp
        |         FROM cells GROUP BY 1),
        |pred AS (SELECT p AS label, sum(n) AS n_pred FROM cells GROUP BY 1),
        |j AS (SELECT coalesce(gold.label, pred.label) AS label,
        |        coalesce(tp, 0) AS tp,
        |        coalesce(n_pred, 0) - coalesce(tp, 0) AS fp,
        |        coalesce(n_gold, 0) - coalesce(tp, 0) AS fn
        |      FROM gold FULL JOIN pred ON gold.label = pred.label)
        |SELECT label, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(fn AS BIGINT) AS fn,
        |  CASE WHEN tp + fp = 0 THEN NULL
        |       ELSE CAST((1000 * tp) // (tp + fp) AS BIGINT) END AS precision_milli,
        |  CASE WHEN tp + fn = 0 THEN NULL
        |       ELSE CAST((1000 * tp) // (tp + fn) AS BIGINT) END AS recall_milli,
        |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
        |       ELSE CAST((2000 * tp) // (2 * tp + fp + fn) AS BIGINT) END AS f1_milli
        |FROM j""".stripMargin,
    "ns_kappa" ->
      """WITH p AS (
        |  SELECT event_type AS a,
        |    CASE WHEN event_id % 5 = 0 THEN 'view' ELSE event_type END AS b
        |  FROM events),
        |cells AS (SELECT a, b, CAST(count(*) AS HUGEINT) AS n FROM p GROUP BY 1, 2),
        |ra AS (SELECT a AS l, sum(n) AS r FROM cells GROUP BY 1),
        |cb AS (SELECT b AS l, sum(n) AS c FROM cells GROUP BY 1),
        |pe AS (SELECT coalesce(sum(r * c), 0) AS rc FROM ra JOIN cb USING (l)),
        |tot AS (SELECT sum(n) AS N,
        |          coalesce(sum(CASE WHEN a = b THEN n END), 0) AS diag
        |        FROM cells)
        |SELECT CAST(N AS BIGINT) AS n, CAST(diag AS BIGINT) AS n_agree,
        |  CASE WHEN N * N - rc = 0 THEN NULL
        |       ELSE CAST((1000 * (N * diag - rc)) // (N * N - rc) AS BIGINT)
        |  END AS kappa_milli
        |FROM tot, pe""".stripMargin,
    "ns_gini" ->
      """WITH r AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS x,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS total,
        |  CASE WHEN sum(x) > 0
        |    THEN CAST((1000 * sum((2*rn - n - 1) * x)) // (count(*) * sum(x)) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS gini_milli
        |FROM r GROUP BY source""".stripMargin,
    "ns_benford" ->
      """WITH v AS (
        |  SELECT 'o_totalprice' AS "column",
        |         CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(floor(o_custkey) AS BIGINT) FROM orders),
        |d AS (SELECT "column", CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit
        |      FROM v WHERE v > 0),
        |c AS (SELECT "column", digit, CAST(count(*) AS BIGINT) AS n
        |      FROM d GROUP BY 1, 2),
        |t AS (SELECT "column", sum(n) AS tt FROM c GROUP BY 1),
        |e(digit, expected_milli) AS (VALUES
        |  (1, CAST(301 AS BIGINT)), (2, 176), (3, 125), (4, 97), (5, 79),
        |  (6, 67), (7, 58), (8, 51), (9, 46))
        |SELECT c."column", c.digit, c.n,
        |  CAST((c.n * 1000) // t.tt AS BIGINT) AS observed_milli,
        |  e.expected_milli,
        |  CAST((c.n * 1000) // t.tt - e.expected_milli AS BIGINT) AS dev_milli
        |FROM c JOIN t USING ("column") JOIN e USING (digit)""".stripMargin,
    "ns_code_signals" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    replace(replace(replace(text, ' table ', ';' || chr(10)),
        |            ' row ', chr(10) || '    '), 'fast', 'fastPath')
        |    || CASE WHEN doc_id % 3 = 0
        |            THEN chr(10) || '```' || chr(10) || 'code();' || chr(10) || '```'
        |            ELSE '' END AS text
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(regexp_extract_all(text, '\n')) + 1 AS BIGINT)
        |    END AS n_lines,
        |    CAST(len(regexp_extract_all(text, '(?s)```.*?```')) AS BIGINT) AS fenced_blocks,
        |    CAST(len(regexp_extract_all(text, '(?m)^.*[;{}][ \t]*$')) AS BIGINT) AS semi_brace_lines,
        |    CAST(len(regexp_extract_all(text, '(?m)^(?:\t|    )')) AS BIGINT) AS indented_lines,
        |    CAST(len(regexp_extract_all(text, '[a-z][a-z0-9]*[A-Z]')) AS BIGINT) AS camel_idents
        |  FROM m)
        |SELECT doc_id, n_lines, fenced_blocks, semi_brace_lines,
        |  indented_lines, camel_idents,
        |  (semi_brace_lines * 1000) // greatest(n_lines, 1) AS semi_brace_permille,
        |  (indented_lines * 1000) // greatest(n_lines, 1) AS indent_permille
        |FROM c""".stripMargin,
    "ns_sentences" ->
      """WITH m AS (SELECT doc_id, replace(text, ' value ', '. ') AS text FROM documents),
        |s AS (SELECT doc_id,
        |        list_filter(list_transform(regexp_extract_all(text, '[^.!?]+[.!?]*'),
        |          x -> trim(x)), x -> length(x) > 0) AS ss
        |      FROM m)
        |SELECT doc_id, CAST(i - 1 AS INT) AS pos, ss[CAST(i AS INT)] AS sentence
        |FROM (SELECT doc_id, ss, unnest(range(1, len(ss) + 1)) AS i FROM s)""".stripMargin,
    "ns_lexical_diversity" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS nt,
        |        CAST(len(list_distinct(toks)) AS BIGINT) AS ny,
        |        CAST(len(list_filter(list_distinct(toks),
        |          t -> len(list_filter(toks, u -> u = t)) = 1)) AS BIGINT) AS hp
        |      FROM tk)
        |SELECT doc_id, nt AS n_tokens, ny AS n_types,
        |  (ny * 1000) // greatest(nt, 1) AS ttr_permille,
        |  (hp * 1000) // greatest(nt, 1) AS hapax_permille
        |FROM x""".stripMargin,
    "ns_readability" ->
      """WITH m AS (
        |  SELECT doc_id, replace(text, ' value ', '. ') AS text FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS s,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
        |  FROM m)
        |SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
        |  CAST(206835 - (1015 * w) // greatest(s, 1)
        |              - (84600 * y) // greatest(w, 1) AS BIGINT) AS flesch_milli,
        |  CAST((390 * w) // greatest(s, 1)
        |     + (11800 * y) // greatest(w, 1) - 15590 AS BIGINT) AS fk_grade_milli
        |FROM c""".stripMargin,
    "ns_text_profile" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens_ws,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}'))
        |    + len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_tokens_bpe,
        |  length(text) AS n_chars,
        |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_words,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / len(string_split_regex(lower(trim(text)), '\s+')) AS mean_word_len,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS DOUBLE)
        |    / len(string_split_regex(lower(trim(text)), '\s+')) AS stopword_ratio,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / length(text) AS punct_ratio,
        |  s_en AS en_score,
        |  CASE WHEN s_de = best AND best > 0 THEN 'de'
        |       WHEN s_en = best AND best > 0 THEN 'en'
        |       WHEN s_es = best AND best > 0 THEN 'es'
        |       WHEN s_fr = best AND best > 0 THEN 'fr'
        |       WHEN s_zh = best AND best > 0 THEN 'zh'
        |       ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT *,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','that','with'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','los','las','que','es','con'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','la','les','est','que','avec','pour'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('的','是','了','在','我','不'))) AS s_zh,
        |    greatest(
        |      len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit'))),
        |      len(list_filter(toks, x -> x IN ('the','and','of','to','is','that','with'))),
        |      len(list_filter(toks, x -> x IN ('el','la','los','las','que','es','con'))),
        |      len(list_filter(toks, x -> x IN ('le','la','les','est','que','avec','pour'))),
        |      len(list_filter(toks, x -> x IN ('的','是','了','在','我','不')))) AS best
        |  FROM (SELECT *, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents))""".stripMargin
  )
}
