package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops

/** Registry of ROW-LOCAL operators — the streaming-safety contract.
  *
  * An operator is row-local when its output rows are a deterministic
  * function of one input row at a time (pure projection / filter /
  * generator: no aggregation, no join, no window, no RNG; a frozen model
  * passed IN is fine — applying a model is row-local, training one is
  * not). Row-local operators run UNCHANGED on a streaming frame — the
  * batch operator IS the streaming operator, no twin needed — and
  * `ParityRegistrySpec`'s law holds every entry here to that: each
  * transform runs over a MemoryStream and must emit exactly its batch
  * rows.
  *
  * EVERY public method of the `graft.ops` surface that returns a
  * `DataFrame` or a `Column` must appear either in [[transforms]] (and
  * thereby under the law) or in [[exempt]] with the reason it is out of
  * scope — the completeness gate reflects over the ops objects and fails
  * on any unclassified or stale name, so a new operator cannot silently
  * skip classification. (`private[graft]` helpers surface through Java
  * reflection as public; they are exempted by name below.)
  *
  * Transform input contract (the standard parity frame):
  * `doc_id: long, text: string, url: string, content: binary,
  *  vec: array<double> (dim 4)` — text carries anchor tags and repeated
  * words so link/quality paths exercise; content rows are a REAL PNG and
  * a REAL WAV (the OpsSpec golden convention) so both decode families see
  * decodable and non-decodable bytes. Transforms may derive anything
  * row-locally from these columns (dialog arrays, chosen/rejected pairs,
  * strata, file-stat ranges) and may train models on SEPARATE static
  * frames via `df.sparkSession` — never on the input itself.
  */
object RowLocal {

  private def T(name: String)(f: DataFrame => DataFrame): (String, DataFrame => DataFrame) =
    name -> f

  /** Derived dialog column shared by the dialog transforms. */
  private def msgs: Column = array(
    struct(lit("user").as("role"), col("text").as("content")),
    struct(lit("assistant").as("role"), substring(col("text"), 1, 24).as("content")),
    struct(lit("user").as("role"), lit("  ").as("content")))

  private val bpeMerges = Seq(("t", "h"), ("th", "e"), ("a", "n"))

  private def media(df: DataFrame): DataFrame =
    ops.Multimodal.fromDocuments(df, "doc_id", "content", "application/octet-stream")

  val transforms: Seq[(String, DataFrame => DataFrame)] = Seq(
    // ---- column helpers: text scoring / normalization -------------------
    T("TextAnalysis.wsTokenCount")(df => df.select(col("doc_id"),
      ops.TextAnalysis.wsTokenCount(col("text")).as("out"))),
    T("TextAnalysis.readability")(df => df.select(col("doc_id"),
      ops.TextAnalysis.readability(col("text")).as("out"))),
    T("TextAnalysis.sentences")(df => df.select(col("doc_id"),
      ops.TextAnalysis.sentences(col("text")).as("out"))),
    T("TextAnalysis.lexicalDiversity")(df => df.select(col("doc_id"),
      ops.TextAnalysis.lexicalDiversity(col("text")).as("out"))),
    T("TextAnalysis.codeSignals")(df => df.select(col("doc_id"),
      ops.TextAnalysis.codeSignals(col("text")).as("out"))),
    T("TextAnalysis.approxBpeTokenCount")(df => df.select(col("doc_id"),
      ops.TextAnalysis.approxBpeTokenCount(col("text")).as("out"))),
    T("TextAnalysis.stripMarkup")(df => df.select(col("doc_id"),
      ops.TextAnalysis.stripMarkup(col("text")).as("out"))),
    T("TextAnalysis.normalizeText")(df => df.select(col("doc_id"),
      ops.TextAnalysis.normalizeText(col("text")).as("out"))),
    T("TextAnalysis.qualityMetrics")(df => df.select(col("doc_id"),
      ops.TextAnalysis.qualityMetrics(col("text"),
        ops.TextAnalysis.DefaultStopwords).as("out"))),
    T("TextAnalysis.langScores")(df => df.select(col("doc_id"),
      ops.TextAnalysis.langScores(col("text")).as("out"))),
    T("TextAnalysis.langId")(df => df.select(col("doc_id"),
      ops.TextAnalysis.langId(col("text")).as("out"))),
    T("TextAnalysis.sentiment")(df => df.select(col("doc_id"),
      ops.TextAnalysis.sentiment(col("text")).as("out"))),
    T("TextAnalysis.compressionRatio")(df => df.select(col("doc_id"),
      ops.TextAnalysis.compressionRatio(col("text")).as("out"))),
    T("TextAnalysis.fingerprint")(df => df.select(col("doc_id"),
      ops.TextAnalysis.fingerprint(col("text")).as("out"))),
    T("TextAnalysis.profile")(df =>
      ops.TextAnalysis.profile(df, "text", "doc_id")),
    T("TextAnalysis.scriptProfile")(df =>
      ops.TextAnalysis.scriptProfile(df, "text", "doc_id")),
    T("TextAnalysis.langSegments")(df =>
      ops.TextAnalysis.langSegments(df, "text", "doc_id", chunkTokens = 4)),
    T("Curation.repeatedEpochValue")(df =>
      ops.Curation.repeatedEpochValue(
        df.select(col("doc_id").as("stratum"),
          length(col("text")).cast("long").as("tokens"),
          ((col("doc_id") % 5) * 700).as("epochs_milli")),
        "stratum", "tokens", "epochs_milli", decayPermille = 700L)),
    T("TextAnalysis.termMatchStats")(df =>
      ops.TextAnalysis.termMatchStats(df, "text", "doc_id",
        Seq("alpha", "beta gamma"), minMatches = 1)),
    T("TextAnalysis.filterTermMatches")(df =>
      ops.TextAnalysis.filterTermMatches(df, "text",
        Seq("alpha", "beta gamma"), minMatches = 1)),
    // ---- column helpers: hashing / shingling / misc ----------------------
    T("Curation.piiStats")(df => df.select(col("doc_id"),
      ops.Curation.piiStats(col("text")).as("out"))),
    T("Curation.redactPii")(df => df.select(col("doc_id"),
      ops.Curation.redactPii(col("text")).as("out"))),
    T("Curation.wordNgrams")(df => df.select(col("doc_id"),
      ops.Curation.wordNgrams(col("text"), 2).as("out"))),
    T("Curation.curationStats")(df => df.select(col("doc_id"),
      ops.Curation.curationStats(col("text")).as("out"))),
    T("Curation.portableHash31")(df => df.select(col("doc_id"),
      ops.Curation.portableHash31(col("text"), "parity").as("out"))),
    T("Curation.dsirFeatures")(df => df.select(col("doc_id"),
      ops.Curation.dsirFeatures(col("text"), buckets = 64).as("out"))),
    T("Dedup.shingles")(df => df.select(col("doc_id"),
      ops.Dedup.shingles(col("text"), 3).as("out"))),
    T("Dedup.minhashSigAndBuckets")(df => df.select(col("doc_id"),
      ops.Dedup.minhashSigAndBuckets(col("text"), shingleLen = 3,
        numHashes = 8, bands = 4).as("out"))),
    T("Dedup.simhash")(df => ops.Dedup.simhash(df, "text", "doc_id")),
    T("Similarity.cosine")(df => df.select(col("doc_id"),
      ops.Similarity.cosine(col("vec"), reverse(col("vec"))).as("out"))),
    T("Embeddings.l2Normalize")(df => df.select(col("doc_id"),
      ops.Embeddings.l2Normalize(col("vec")).as("out"))),
    T("Tables.zOrderValue")(df => df.select(col("doc_id"),
      ops.Tables.zOrderValue(
        Seq(col("doc_id"), length(col("text")).cast("long")), bits = 8).as("out"))),
    T("Web.urlParts")(df => df.select(col("doc_id"),
      ops.Web.urlParts(col("url")).as("out"))),
    T("Web.registrableDomain")(df => df.select(col("doc_id"),
      ops.Web.registrableDomain(lower(col("url"))).as("out"))),
    T("Web.canonicalUrl")(df => df.select(col("doc_id"),
      ops.Web.canonicalUrl(col("url")).as("out"))),
    // ---- frozen-model application (model from a STATIC frame) -----------
    T("Bpe.encode")(df => df.select(col("doc_id"),
      ops.Bpe.encode(col("text"), bpeMerges).as("out"))),
    T("Bpe.tokenCount")(df => df.select(col("doc_id"),
      ops.Bpe.tokenCount(col("text"), bpeMerges).as("out"))),
    T("Classifier.score") { df =>
      val s = df.sparkSession; import s.implicits._
      val labeled = Seq((1L, "the quick brown fox jumps over the lazy dog", 1L),
        (2L, "zz qq vv xx zz qq", 0L), (3L, "a clean readable sentence here", 1L),
        (4L, "kk jj ww qq kk", 0L)).toDF("id", "text", "label")
      val m = ops.Classifier.train(labeled, "text", "label", "id",
        buckets = 64, iters = 3)
      ops.Classifier.score(df, m, "text", "doc_id")
    },
    T("Classifier.filterQuality") { df =>
      val s = df.sparkSession; import s.implicits._
      val labeled = Seq((1L, "the quick brown fox jumps over the lazy dog", 1L),
        (2L, "zz qq vv xx zz qq", 0L), (3L, "a clean readable sentence here", 1L),
        (4L, "kk jj ww qq kk", 0L)).toDF("id", "text", "label")
      val m = ops.Classifier.train(labeled, "text", "label", "id",
        buckets = 64, iters = 3)
      ops.Classifier.filterQuality(df, m, "text", "doc_id")
    },
    T("Embeddings.project") { df =>
      val s = df.sparkSession; import s.implicits._
      val ref = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
        Seq(0.5, 0.5, 1.0, 0.0), Seq(0.1, 0.9, 0.2, 1.0)).toDF("vec")
      val m = ops.Embeddings.trainPca(ref, "vec", dim = 4, k = 2)
      ops.Embeddings.project(df, "doc_id", "vec", m)
    },
    // ---- curation projections / filters / generators --------------------
    T("Curation.trimToTokens")(df =>
      ops.Curation.trimToTokens(df, "text", "doc_id", maxTokens = 4)),
    T("Curation.chunkByTokens")(df =>
      ops.Curation.chunkByTokens(df, "text", "doc_id", size = 4, overlap = 1)),
    T("Curation.dedupeLinesInDoc")(df =>
      ops.Curation.dedupeLinesInDoc(df, "text", "doc_id")),
    T("Curation.lineSignals")(df =>
      ops.Curation.lineSignals(df, "text", "doc_id", minWords = 2)),
    T("Curation.qualityFilter")(df =>
      ops.Curation.qualityFilter(df, "text", "doc_id", minWords = 2,
        minMeanWordLen = 1.0, maxMeanWordLen = 100.0, minStopwordHits = 0,
        minAlphaWordFrac = 0.0)),
    T("Curation.repetitionStats")(df =>
      ops.Curation.repetitionStats(df, "text", "doc_id")),
    T("Curation.repetitionFilter")(df =>
      ops.Curation.repetitionFilter(df, "text", "doc_id")),
    T("Curation.assignSplit")(df => ops.Curation.assignSplit(df, "doc_id")),
    T("Curation.stratifiedSample")(df =>
      ops.Curation.stratifiedSample(
        df.withColumn("grp", (col("doc_id") % 2).cast("string")),
        "doc_id", "grp", Map("0" -> 500), defaultPermille = 1000)),
    T("Curation.wordDropout")(df =>
      ops.Curation.wordDropout(df, "doc_id", "text", dropPermille = 400)),
    T("Curation.spanCorrupt")(df =>
      ops.Curation.spanCorrupt(df, "doc_id", "text", startPermille = 300,
        spanLen = 2)),
    T("Curation.dialogAudit")(df =>
      ops.Curation.dialogAudit(df.withColumn("msgs", msgs), "doc_id", "msgs")),
    T("Curation.redactDialog")(df => df.select(col("doc_id"),
      ops.Curation.redactDialog(msgs).as("out"))),
    T("Curation.packDialog")(df =>
      ops.Curation.packDialog(df.withColumn("msgs", msgs), "doc_id", "msgs",
        tokenBudget = 8)),
    T("Curation.insertCanaries")(df =>
      ops.Curation.insertCanaries(df, "text", "doc_id", ratePermille = 500)),
    T("Curation.preferencePairAudit")(df =>
      ops.Curation.preferencePairAudit(
        df.withColumn("chosen", col("text"))
          .withColumn("rejected", substring(col("text"), 1, 12)),
        "doc_id", "chosen", "rejected")),
    // ---- eval metrics (per-pair row-local members) --------------------------
    T("EvalMetrics.terComponents")(df =>
      ops.EvalMetrics.terComponents(
        df.select(col("doc_id").as("pair_id"), col("text").as("cand"),
          substring(col("text"), 1, 30).as("ref")),
        "pair_id", "cand", "ref", maxTokens = 10)),
    T("EvalMetrics.rougeL")(df =>
      ops.EvalMetrics.rougeL(
        df.select(col("doc_id").as("pair_id"), col("text").as("cand"),
          substring(col("text"), 1, 30).as("ref")),
        "pair_id", "cand", "ref", maxTokens = 10)),
    T("EvalMetrics.seqRepN")(df =>
      ops.EvalMetrics.seqRepN(df, "text", "doc_id", maxN = 2)),
    T("EvalMetrics.bleuComponentsRowLocal")(df =>
      ops.EvalMetrics.bleuComponentsRowLocal(
        df.select(col("doc_id").as("pair_id"), col("text").as("cand"),
          substring(col("text"), 1, 30).as("ref")),
        "pair_id", "cand", "ref", maxTokens = 10)),
    // round-11: the per-pair clip metrics became row-local kernels (the
    // (pair, n, gram) shuffle forms survive as *Shuffled law witnesses),
    // so the batch operators ARE streaming-safe and move under the law
    T("EvalMetrics.bleuComponents")(df =>
      ops.EvalMetrics.bleuComponents(
        df.select(col("doc_id").as("pair_id"), col("text").as("cand"),
          substring(col("text"), 1, 30).as("ref")),
        "pair_id", "cand", "ref")),
    T("EvalMetrics.rougeN")(df =>
      ops.EvalMetrics.rougeN(
        df.select(col("doc_id").as("pair_id"), col("text").as("cand"),
          substring(col("text"), 1, 30).as("ref")),
        "pair_id", "cand", "ref", maxN = 2)),
    T("EvalMetrics.chrF")(df =>
      ops.EvalMetrics.chrF(
        df.select(col("doc_id").as("pair_id"), col("text").as("cand"),
          substring(col("text"), 1, 30).as("ref")),
        "pair_id", "cand", "ref", maxN = 2, maxChars = 40)),
    // ---- vectors ----------------------------------------------------------
    T("Similarity.quantizeInt8")(df =>
      ops.Similarity.quantizeInt8(df.select(col("doc_id").as("id"), col("vec")))),
    T("Similarity.dequantizeInt8")(df =>
      ops.Similarity.dequantizeInt8(
        ops.Similarity.quantizeInt8(df.select(col("doc_id").as("id"), col("vec"))))),
    // ---- web ---------------------------------------------------------------
    T("Web.domainTag")(df =>
      ops.Web.domainTag(df.select("doc_id", "url"), "url",
        blocklist = Seq("ex1.example.com"))),
    T("Web.domainFilter")(df =>
      ops.Web.domainFilter(df.select("doc_id", "url"), "url",
        blocklist = Seq("ex1.example.com"))),
    T("Web.extractLinks")(df =>
      ops.Web.extractLinks(df, "text", "url", "doc_id")),
    // ---- tables ------------------------------------------------------------
    T("Tables.pruneCandidates")(df =>
      ops.Tables.pruneCandidates(
        df.select(col("doc_id"),
          (col("doc_id") * 10).as("v_min"), (col("doc_id") * 10 + 9).as("v_max")),
        "v", lit(15), lit(35))),
    // ---- multimodal (real JDK decode; content rows are PNG / WAV / text) ---
    T("Multimodal.fromDocuments")(df => media(df)),
    T("Multimodal.extractFeatures")(df =>
      ops.Multimodal.extractFeatures(media(df), dim = 4).toDF()),
    T("Multimodal.pHashDecoded")(df => ops.Multimodal.pHashDecoded(media(df))),
    T("Multimodal.pHash")(df => ops.Multimodal.pHash(media(df))),
    T("Multimodal.resize")(df => ops.Multimodal.resize(media(df), 4, 4)),
    T("Multimodal.sampleFrames")(df => ops.Multimodal.sampleFrames(media(df), 3)),
    T("Multimodal.frameFingerprints")(df =>
      ops.Multimodal.frameFingerprints(media(df), n = 3, w = 4)),
    T("Multimodal.audioFeatures")(df =>
      ops.Multimodal.audioFeatures(media(df), windowSamples = 256)),
    T("Multimodal.audioFingerprint")(df =>
      ops.Multimodal.audioFingerprint(media(df), windowSamples = 256)))

  /** Ops outside the row-local law, each with its boundary reason. The
    * recurring shapes: corpus aggregation / grouped state ("agg"), joins,
    * rank/lag windows, iterative loops, model TRAINING (apply sides are
    * registered above), table/file maintenance, and `private[graft]`
    * helpers that Java reflection cannot distinguish from public API.
    * Aggregating/windowed stream analogs live in
    * [[graft.streaming.Windows]] (watermarked windows, sessions, keyed
    * state), not here — this registry is only about operators that are
    * streaming-safe AS-IS.
    */
  val exempt: Map[String, String] = Map(
    "Bpe.fertilityByGroup" -> "per-group aggregate of token fertility",
    "Curation.alignScores" -> "rank windows + eager reference count (reference is a sorted model)",
    "Curation.assembleDialogs" -> "groupBy dialog assembly from event rows",
    "Curation.assignSplitByCluster" -> "join to the cluster map so a cluster stays in one split",
    "Curation.canaryRecall" -> "extraction rollup + keyed join onto the canary table",
    "Curation.contaminationReport" -> "per-group contamination aggregate over the decontaminate join",
    "Curation.decontaminate" -> "join against broadcast benchmark grams",
    "Curation.decontaminateBloom" -> "bloom build is a corpus aggregate; survivors join exactly",
    "Curation.decontaminateEmbedding" -> "broadcast crossJoin vs benchmark + per-doc max aggregate",
    "Curation.decontaminateNearDup" -> "minhash candidate join vs benchmark",
    "Curation.dsirResample" -> "global rank window over importance scores",
    "Curation.dsirResampleByGroup" -> "per-group rank windows",
    "Curation.dsirScores" -> "needs corpus-level bucket totals from BOTH corpora (training)",
    "Curation.epochPlan" -> "per-stratum token aggregate + budget allocation",
    "Curation.epochShuffle" -> "two-level rank (range-bucketed global order)",
    "Curation.exactSubstrDedup" -> "corpus-level suffix-table join",
    "Curation.filterFunnel" -> "single-scan kill-attribution AGGREGATE report",
    "Curation.kAnonymityAudit" -> "equivalence-class groupBy",
    "Curation.keepTopFraction" -> "per-group rank window",
    "Curation.keepTopFractionApprox" -> "GK quantile sketch aggregate",
    "Curation.lDiversityAudit" -> "equivalence-class groupBy",
    "Curation.lineDedup" -> "corpus-level line-frequency aggregate",
    "Curation.packSequences" -> "grouped greedy bin packing (cross-row state)",
    "Curation.packEfficiency" -> "per-bin aggregate over the packed corpus",
    "Curation.percentileRank" -> "per-group rank window",
    "Curation.copelandScores" -> "pair-reduction aggregate + prompt-partitioned rank window",
    "Curation.preferenceConsistency" -> "pair aggregates + majority-graph cycle joins per prompt",
    "Curation.preferencePairsFromScores" -> "per-prompt argmax/argmin aggregate",
    "Curation.splitLeakageAudit" -> "per-key distinct-split aggregate",
    "Curation.waterfillPlan" -> "strata-frame prefix-sum windows + one-row level broadcast",
    "Curation.temperatureMixture" -> "stratum-sized weight projection + one-row broadcast total",
    "Curation.isqrtExact" -> "row-local scalar column (corrected floor sqrt) - pure per-row arithmetic with no frame semantics",
    "Curation.bradleyTerry" -> "iterative MM fixed point over pair aggregates (loop-lineage rule)",
    "EvalMetrics.ngramOverlap" -> "distributed (pair, n, gram) aggregate — building block of the test-only *Shuffled reference forms (the row-local kernels' law witnesses)",
    "EvalMetrics.bleuComponentsShuffled" -> "private[graft] distributed law witness of the row-local bleuComponents",
    "EvalMetrics.rougeNShuffled" -> "private[graft] distributed law witness of the row-local rougeN",
    "EvalMetrics.chrFShuffled" -> "private[graft] distributed law witness of the row-local chrF",
    "EvalMetrics.bleuComponentsMultiRefShuffled" -> "private[graft] distributed law witness of the row-local bleuComponentsMultiRef",
    "EvalMetrics.selfBleuPairs" -> "corpus ring rank (bucket-offset, driver-read counts) + position equi-join",
    "EvalMetrics.selfBleu" -> "selfBleuPairs composition (ring rank + join) feeding the row-local clip kernel",
    "EvalMetrics.corpusBleu" -> "corpus-level one-row component reduce (micro-average pooling)",
    "EvalMetrics.withRowLocalBleuComponents" -> "private[graft] helper (row-local clip kernel shared by bleuComponents, bleuComponentsRowLocal and the streaming corpus-BLEU twin)",
    "EvalMetrics.corpusBleuOver" -> "private[graft] helper (shared pool+root tail for the global and windowed corpus BLEU)",
    "EvalMetrics.passAtKOver" -> "private[graft] helper (shared (n, c) aggregate + k fold for passAtK and the windowed twin)",
    "EvalMetrics.integralMetric" -> "private[graft] helper (row-local integral-metric guard column shared by the paired tests and the windowed paired-delta twin)",
    "EvalMetrics.corpusChrf" -> "corpus-level per-n component reduce (micro-average pooling)",
    "EvalMetrics.corpusRougeN" -> "corpus-level per-n component reduce (micro-average pooling)",
    "EvalMetrics.passAtKRollup" -> "per-k mean over problem-sized aggregate rows",
    "EvalMetrics.selfConsistencyRollup" -> "one-row mean/quorum reduce over problem-sized aggregate rows",
    "EvalMetrics.bertScore" -> "pair-keyed unit join + two max-reduce aggregates",
    "EvalMetrics.bertScoreIdf" -> "bertScore's join + max reductions with a broadcast weight lookup per unit",
    "EvalMetrics.idfWeightsMicro" -> "vocabulary-sized distinct-count aggregate + one-row broadcast total",
    "EvalMetrics.distinctN" -> "corpus-wide (n, gram) aggregate (distinct share needs all docs)",
    "EvalMetrics.ngramNovelty" -> "reference-set dedup + (n, gram) anti-join + doc rollup",
    "EvalMetrics.corpusNovelty" -> "corpus-level per-n reduce over doc-sized rows",
    "EvalMetrics.referenceGramSet" -> "corpus-wide (n, gram) dedup (the novelty family's index side)",
    "EvalMetrics.incrementalNovelty" -> "batch grams anti-join a prebuilt reference index + doc rollup",
    "EvalMetrics.pairedBootstrapBleu" -> "pair-keyed system join + replicate fan-out onto one B-row aggregate",
    "EvalMetrics.pairedBootstrapMetric" -> "pair-keyed system join + replicate fan-out onto one B-row aggregate (division-free verdict)",
    "EvalMetrics.pairedBootstrapBleuReplicates" -> "the exposed B-row per-replicate frame the BLEU verdict reduces",
    "EvalMetrics.pairedBootstrapMetricReplicates" -> "the exposed B-row per-replicate frame the metric verdict reduces",
    "EvalMetrics.bootstrapDeltaCi" -> "one aggregate over a B<=200-row replicate frame (bounded order statistic)",
    "EvalMetrics.approxRandomization" -> "pair-keyed system join + sign-flip fan-out onto one R-row aggregate",
    "EvalMetrics.mcnemarTest" -> "two pair-keyed dedups + one equi-join + a one-row discordant-count reduce",
    "EvalMetrics.bleuComponentsMultiRef" -> "pair-keyed reference collect + equi-join feeding the row-local max-clip kernel",
    "EvalMetrics.rougeNMultiRef" -> "per-(pair, ref) row-local clip rows + pair-sized max-over-refs reduce",
    "EvalMetrics.chrFMultiRef" -> "per-(pair, ref) row-local char-clip rows + pair-sized max-over-refs reduce",
    "EvalMetrics.rougeLMultiRef" -> "per-(pair, ref) bounded LCS DP rows + pair-sized max-over-refs reduce",
    "EvalMetrics.terMultiRef" -> "per-(pair, ref) bounded edit-DP rows + pair-sized min/avg reduce",
    "Profile.poissonWeight31" -> "private[ops] helper (the deterministic-bootstrap weight column, one cut table for every bootstrap oracle)",
    "EvalMetrics.toksOf" -> "private[graft] helper (the family tokenizer, shared with the streaming novelty twin)",
    "EvalMetrics.wordGramsOf" -> "private[graft] helper (column-parameterized gram builder, shared with the streaming novelty twin)",
    "EvalMetrics.corpusTer" -> "corpus-level one-row component reduce (micro-average pooling)",
    "EvalMetrics.corpusRougeL" -> "corpus-level one-row component reduce (micro-average pooling)",
    "EvalMetrics.passAtK" -> "per-problem sample aggregate + bounded k-fold",
    "EvalMetrics.gPassAtK" -> "per-problem sample aggregate + bounded exact hypergeometric kernel on problem-sized rows",
    "EvalMetrics.gPassAtKRollup" -> "per-(k, tau) mean over problem-sized aggregate rows",
    "EvalMetrics.selfConsistency" -> "two-stage vote aggregate (problem, answer) -> problem argmax",
    "Profile.shardManifest" -> "per-shard groupBy + manifest-frame share window",
    "Profile.distributionDrift" -> "two bucket-count aggregates + windows over the buckets spine",
    "Profile.clampedBucket" -> "private[graft] helper (row-local clamp-then-bucket column shared by the batch and streaming drift twins)",
    "Tables.expectationReport" -> "single-scan rule aggregate (one row) + plan-side reshape",
    "Similarity.mmrSelect" -> "greedy driver loop of TakeOrdered scans (selection state = picked vectors)",
    "Curation.qualityKeep" -> "private[ops] helper (row-local keep rule inside qualityFilter, which is registered)",
    "Curation.removeBoilerplate" -> "per-doc reassembly via groupBy over exploded lines",
    "Curation.selectByTokenBudget" -> "rank + running-sum windows",
    "Curation.stratifiedQuota" -> "per-stratum rank window",
    "Curation.suppressToK" -> "class-size groupBy + semi join",
    "Curation.tClosenessAudit" -> "class vs global distribution aggregates",
    "Dedup.auditCandidates" -> "candidate-pair sample join audit",
    "Dedup.auditRecall" -> "brute-force sample join audit",
    "Dedup.capBuckets" -> "private[graft] helper (bucket-cap window inside candidate joins)",
    "Dedup.clusterAssignments" -> "join docs to component ids",
    "Dedup.clusterStats" -> "per-cluster aggregate",
    "Dedup.connectedComponents" -> "iterative fixed point (loop-lineage rule)",
    "Dedup.connectedComponentsStar" -> "iterative star contraction",
    "Dedup.containmentJoin" -> "prefix-filtered candidate join",
    "Dedup.corpusOverlap" -> "signature join of two corpus aggregates",
    "Dedup.corpusOverlapEstimate" -> "aggregate over the overlap frame",
    "Dedup.corpusSignature" -> "corpus-level minhash aggregate",
    "Dedup.crossCorpusDedup" -> "union + digest groupBy across corpora",
    "Dedup.docStitchCandidates" -> "suffix/prefix boundary-gram equi-join",
    "Dedup.dupSizeHistogram" -> "digest groupBy + size histogram",
    "Dedup.embeddingCandidates" -> "LSH bucket self-join",
    "Dedup.exact" -> "digest groupBy (first-occurrence winner)",
    "Dedup.exactIndex" -> "digest groupBy building the index",
    "Dedup.fingerprintCandidates" -> "winnowing fingerprint bucket join",
    "Dedup.fullBandEq" -> "private[graft] helper (band-equality predicate builder)",
    "Dedup.incrementalEmbedCandidates" -> "batch-vs-index bucket join",
    "Dedup.incrementalExact" -> "batch-vs-index digest join",
    "Dedup.incrementalMinhashCandidates" -> "batch-vs-index band join",
    "Dedup.incrementalSimhashCandidates" -> "batch-vs-index band join",
    "Dedup.indexStats" -> "per-key index aggregate",
    "Dedup.jaccardJoin" -> "prefix-filtered candidate join + verify",
    "Dedup.keepBest" -> "per-cluster argmax aggregate",
    "Dedup.minhashCandidates" -> "LSH band self-join",
    "Dedup.ngramJaccard" -> "pair join back to documents",
    "Dedup.semanticDedup" -> "centroid training + per-cell windows",
    "Dedup.simhashBandCols" -> "private[graft] helper (band-key projection builder)",
    "Dedup.simhashCandidates" -> "simhash band self-join",
    "Embeddings.centroidOutliers" -> "per-group centroid aggregate + join back",
    "Embeddings.embeddingProfile" -> "per-dimension corpus aggregate",
    "Embeddings.groupAffinity" -> "per-group mean-vector aggregate + pairwise cos",
    "Embeddings.meanPool" -> "per-group mean aggregate",
    "Embeddings.meanPoolVectors" -> "per-group mean aggregate",
    "Embeddings.normProfile" -> "corpus norm-distribution aggregate",
    "Fuzzy.editDistanceJoin" -> "PassJoin candidate join",
    "Fuzzy.editDistanceSelfJoin" -> "PassJoin candidate self-join",
    "Fuzzy.jaroWinklerJoin" -> "blocked similarity join",
    "Fuzzy.jaroWinklerSelfJoin" -> "blocked similarity self-join",
    "Fuzzy.resolveEntities" -> "similarity join + connected components",
    "Fuzzy.sortedNeighborhoodJoin" -> "sorted-window candidate join",
    "Graph.degreeAssortativity" -> "degree aggregates + correlation over edges",
    "Graph.degrees" -> "per-node degree aggregate",
    "Graph.hits" -> "iterative hub/authority loop",
    "Graph.kCore" -> "iterative peeling loop",
    "Graph.labelPropagation" -> "iterative sync-LPA rounds",
    "Graph.neighborJaccard" -> "wedge join over the adjacency",
    "Graph.pageRank" -> "iterative rank loop",
    "Graph.personalizedPageRank" -> "iterative rank loop",
    "Graph.reciprocity" -> "edge self semi-join + aggregate",
    "Graph.seedAttribution" -> "frontier BFS loop",
    "Graph.seedDistance" -> "frontier BFS loop",
    "Graph.triangles" -> "oriented wedge join",
    "Graph.weightedPageRank" -> "iterative rank loop",
    "Lm.pplBuckets" -> "corpus quantile bucketing of scored docs",
    "Lm.score" -> "token-level joins vs the model tables + per-doc re-aggregation of exploded tokens",
    "Multimodal.audioNearDupCandidates" -> "fingerprint bucket join",
    "Multimodal.frameNearDupCandidates" -> "frame-fingerprint bucket join",
    "Multimodal.keyframes" -> "lag window over per-media frames",
    "Multimodal.phashCandidates" -> "pHash band join",
    "Pipelines.disposition" -> "min-over-digest dedup window inside the one-scan pipeline",
    "Pipelines.funnel" -> "aggregate over the disposition frame",
    "Profile.analyzeColumns" -> "one-pass corpus statistics aggregate",
    "Profile.balanceReport" -> "per-group label-distribution aggregate",
    "Profile.benfordAudit" -> "single-scan digit-distribution aggregate",
    "Profile.bootstrapCI" -> "replicate-frame rank window over bootstrapMeans",
    "Profile.bootstrapMeans" -> "constant replicate fan-out + per-replicate aggregate",
    "Profile.calibrationAudit" -> "score-bucket aggregate",
    "Profile.calibrationOver" -> "private[graft] helper (shared score-bucket aggregate + finish for calibrationAudit and the windowed twin)",
    "Profile.cohenKappa" -> "confusion-cell aggregate",
    "Profile.confusionReport" -> "confusion-cell aggregate",
    "Profile.correlationMatrix" -> "one-scan co-moment aggregate",
    "Profile.krippendorffAlpha" -> "coincidence-matrix aggregates over (unit, label) counts",
    "Profile.crossTab" -> "two-column contingency aggregate",
    "Profile.expectedCalibrationError" -> "one rollup over the calibration bucket frame",
    "Profile.fleissKappa" -> "fixed-panel (item, label) count aggregates",
    "Profile.datasetCard" -> "per-language corpus aggregates + quantile ranks",
    "Profile.distinctiveTerms" -> "per-group term lift aggregates",
    "Profile.functionalDependencies" -> "pairwise distinct-count aggregates",
    "Profile.giniByGroup" -> "per-group rank-weighted aggregate",
    "Profile.groupProfile" -> "per-group aggregates + rank quantiles",
    "Profile.groupProfileSketch" -> "sketch-tier per-group aggregates",
    "Profile.heavyHitters" -> "per-group top-k aggregate",
    "Profile.lengthHistogram" -> "bucketed histogram aggregate",
    "Profile.profileDrift" -> "two-corpus profile aggregates + join",
    "Profile.robustOutliers" -> "median/MAD rank windows",
    "Profile.tokenDrift" -> "two-corpus vocabulary aggregates + join",
    "Profile.trimmedStats" -> "group-partitioned rank window + rollup",
    "Search.bm25" -> "df/idf corpus statistics + top-k",
    "Search.bm25Indexed" -> "query against the aggregated index",
    "Search.hybridTopK" -> "BM25 + vector fusion (corpus stats + top-k)",
    "Search.rankingMetrics" -> "per-query join of predicted vs truth",
    "Search.rrfFuse" -> "rank fusion across rankings (joins)",
    "Search.termPostings" -> "per-doc term-frequency groupBy",
    "Search.tfTopK" -> "global top-k aggregate",
    "Search.vectorTopK" -> "global top-k over scores",
    "Similarity.bruteForceTopK" -> "query x corpus join + per-query top-k",
    "Similarity.hardNegatives" -> "label-aware candidate join",
    "Similarity.ivfTopK" -> "centroid training + probed cell join",
    "Search.rankAgreement" -> "two-ranking equi-join + depth-cell aggregate",
    "Similarity.kCenterSelect" -> "driver-side greedy selection loop",
    "Similarity.labelNoiseByNeighbors" -> "neighbor top-k join + per-item vote aggregate",
    "Similarity.lshTopK" -> "hyperplane bucket join",
    "Similarity.marginPairs" -> "per-query rank window over candidate join",
    "Similarity.pqTopK" -> "codebook training + ADC scan top-k",
    "Similarity.ivfPqTopK" -> "coarse-cell join + ADC scoring top-k (IVFADC)",
    "Similarity.prototypicality" -> "centroid training + per-cell density",
    "Similarity.refinementSample" -> "private[graft] helper (deterministic sample for codebook refinement)",
    "Skew.joinCardinality" -> "key-frequency aggregates of both sides",
    "Skew.keyProfile" -> "key-frequency aggregate",
    "Skew.saltedJoin" -> "salted join (the operator IS a join)",
    "Tables.applyChangelog" -> "latest-version window merge",
    "Tables.fileStats" -> "per-file min/max aggregate",
    "Tables.integrityAudit" -> "orphan anti-join + counts",
    "Tables.readBucketed" -> "catalog table read (maintenance surface)",
    "Tables.snapshotDiff" -> "full outer join of snapshots",
    "Temporal.acf" -> "lagged self-join + correlation aggregate",
    "Temporal.activeActors" -> "windowed distinct-actor aggregate",
    "Temporal.anomalies" -> "trailing-window statistics",
    "Temporal.asofJoin" -> "as-of join",
    "Temporal.cohortRetention" -> "cohort x period aggregate",
    "Temporal.funnel" -> "per-actor ordered-step aggregate",
    "Temporal.gaps" -> "lag window per key",
    "Temporal.intervalJoin" -> "bucketed interval join",
    "Temporal.journeyMatch" -> "per-actor ordered path aggregate",
    "Temporal.rangeJoin" -> "bucketed range join",
    "Temporal.resample" -> "grid densify + as-of fill per key",
    "Temporal.rolling" -> "range-window rolling aggregates",
    "Temporal.seasonality" -> "calendar-cell aggregate",
    "Temporal.sessionStats" -> "sessionize + per-session aggregate",
    "Temporal.sessionize" -> "gap-based lag window per key",
    "Temporal.transitions" -> "per-key ordered pair aggregate",
    "Temporal.trendingTopK" -> "windowed counts + top-k",
    "TextAnalysis.collocations" -> "corpus bigram/unigram aggregates",
    "TextAnalysis.instructionTemplates" -> "template groupBy + one-row total broadcast",
    "TextAnalysis.keywords" -> "corpus df aggregate + per-doc tf-idf rank",
    "TextAnalysis.vocabulary" -> "corpus vocabulary aggregate",
    "TextAnalysis.textTileBlocks" -> "block explode + doc-partitioned lag/cumsum windows",
    "TextAnalysis.vocabCoverage" -> "corpus vocabulary aggregate + vocab-frame rank window",
    "TextAnalysis.zipfProfile" -> "corpus vocabulary aggregate + doubling-bucket rollup",
    "Web.anchorProfile" -> "per-target anchor-text aggregate",
    "Web.domainFilterTable" -> "broadcast join vs the blocklist table",
    "Web.domainStats" -> "per-domain aggregate",
    "Web.linkEdges" -> "domain-pair groupBy over links",
    "Web.registrableDomainTable" -> "broadcast longest-suffix join vs the PSL table",
    "Web.urlTemplates" -> "template groupBy count")
}
