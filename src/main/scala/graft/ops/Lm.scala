package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.text.wordsOf

/** Distributed n-gram language-model quality scoring — the CCNet signal
  * (Wenzek et al. 2019, "CCNet: Extracting high quality monolingual
  * datasets from web crawl data"): score every corpus document by its
  * perplexity under a small LM trained on a trusted reference corpus, then
  * keep/bucket by score. The LM is stupid backoff (Brants et al. 2007,
  * "Large language models in machine translation") — count ratios with a
  * fixed backoff factor, no discounting — which is the standard choice at
  * corpus scale precisely because the model stays two count tables that
  * never need normalization.
  *
  * Scale shape (the reason this is join-structured):
  *   - the model IS a pair of DataFrames (unigram and bigram counts), built
  *     with map-side-combined groupBy counts — never collected, so a
  *     reference corpus of any size works; only two scalar totals hit the
  *     driver.
  *   - scoring explodes documents to one row per token position and
  *     resolves counts with three hash joins on token keys. AQE broadcasts
  *     the count tables when the reference corpus is small (the common
  *     CCNet case: Wikipedia-sized model, crawl-sized corpus) and falls
  *     back to shuffle joins when the model itself is huge. Hot stopword
  *     keys sit on the probe side of a left join — per-key build rows are
  *     unique (one count row per gram), so skew cannot amplify.
  *   - per-token log-probabilities are summed as integer micro-nats
  *     (round(1e6·ln p)), an order-independent integer sum — same
  *     determinism convention as [[Curation.dsirScores]]. The ln layer is
  *     engine-local (libm differences are not hash-comparable across
  *     engines), so the DuckDB oracle gates the integer-exact join layer
  *     (token/OOV/bigram-hit counts and count sums) and LmSpec gates the
  *     micronat arithmetic against a driver-side reference replay.
  *
  * No counterpart in the reference engine (zpiroux/geist has no LM
  * machinery); this is a north-star training-data operator.
  */
object Lm {

  /** Stupid-backoff bigram model: distributed count tables + scalar totals.
    * `unigrams`: (tok, c); `bigrams`: (p, t, c). Cache the two frames if
    * scoring repeatedly — they are reused by every [[score]] call.
    */
  final case class LmModel(
      unigrams: DataFrame,
      bigrams: DataFrame,
      totalTokens: Long,
      vocabSize: Long)

  /** Train a bigram stupid-backoff LM on `corpus(textCol)`. Tokenization is
    * the engine-wide whitespace convention (lower, trim, split on \s+).
    * Two shuffles (unigram and bigram groupBy, both map-side combined) and
    * one tiny action for the scalar totals.
    */
  def train(corpus: DataFrame, textCol: String): LmModel = {
    val tk = corpus.select(wordsOf(col(textCol)).as("toks"))
    val uni = tk.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val big = tk
      .select(col("toks"), posexplode(col("toks")).as(Seq("pos", "t")))
      .filter(col("pos") >= 1)
      // element_at is 1-based, pos is 0-based: index pos = previous token
      .select(element_at(col("toks"), col("pos")).as("p"), col("t"))
      .groupBy("p", "t").agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")), count(lit(1))).head()
    LmModel(uni, big, totals.getLong(0), totals.getLong(1))
  }

  /** Score `docs(idCol, textCol)` under `model`. Per token w at position i
    * with previous token v:
    *   - i = 0:              p = (c(w)+1) / (N+V+1)        (add-one unigram)
    *   - c(v,w) > 0:         p = c(v,w) / c(v)             (bigram MLE)
    *   - otherwise:          p = alpha · (c(w)+1)/(N+V+1)  (stupid backoff)
    * OOV tokens get the unseen unigram mass 1/(N+V+1).
    *
    * Output per document: integer-exact join accounting — n_tokens, n_oov
    * (tokens unseen in training), n_hits (positions resolved by a bigram),
    * sum_cb / sum_cw (summed bigram / unigram counts, pinning the exact
    * join results) — plus score_micronats = Σ round(1e6·ln p) (integer,
    * order-independent), logp_per_token, and ppl = e^(−logp_per_token).
    */
  def score(docs: DataFrame, textCol: String, idCol: String, model: LmModel,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha <= 1, "backoff alpha must be in (0, 1]")
    val pt = docs
      .select(col(idCol), wordsOf(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .select(col(idCol), col("pos"), col("tok"),
        when(col("pos") >= 1, element_at(col("toks"), col("pos"))).as("prev"))
    val big = model.bigrams
      .select(col("p").as("prev"), col("t").as("tok"), col("c").as("cb"))
    val uniPrev = model.unigrams.select(col("tok").as("prev"), col("c").as("cp"))
    val uniTok = model.unigrams.select(col("tok"), col("c").as("cw"))
    val denom = lit(model.totalTokens.toDouble + model.vocabSize + 1)
    val uniLog = log((coalesce(col("cw"), lit(0L)).cast("double") + 1.0) / denom)
    val tokLog = when(col("pos") === 0, uniLog)
      .when(col("cb").isNotNull,
        log(col("cb").cast("double") / col("cp").cast("double")))
      .otherwise(uniLog + lit(math.log(alpha)))
    pt.join(big, Seq("prev", "tok"), "left")
      .join(uniPrev, Seq("prev"), "left")
      .join(uniTok, Seq("tok"), "left")
      .withColumn("__mn", round(tokLog * 1e6).cast("long"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cw").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(when(col("pos") > 0 && col("cb").isNotNull, 1L).otherwise(0L))
          .as("n_hits"),
        sum(when(col("pos") > 0, coalesce(col("cb"), lit(0L))).otherwise(0L))
          .as("sum_cb"),
        sum(coalesce(col("cw"), lit(0L))).as("sum_cw"),
        sum(col("__mn")).as("score_micronats"))
      .withColumn("logp_per_token",
        col("score_micronats") / 1e6 / col("n_tokens"))
      .withColumn("ppl", exp(-col("logp_per_token")))
  }

  /** CCNet's head/middle/tail split: label each scored document by which
    * perplexity band it falls in. Cut points are the `headFrac` and
    * `headFrac + middleFrac` quantiles of `ppl`, computed with
    * approx-quantile sketches (one pass, mergeable — no global sort).
    * CCNet keeps head+middle for training and drops tail.
    */
  def pplBuckets(scored: DataFrame, headFrac: Double = 0.3,
      middleFrac: Double = 0.4, relErr: Double = 0.001): DataFrame = {
    require(headFrac > 0 && middleFrac > 0 && headFrac + middleFrac < 1,
      "fractions must be positive and sum below 1")
    val Array(hCut, mCut) = scored.stat
      .approxQuantile("ppl", Array(headFrac, headFrac + middleFrac), relErr)
    scored.withColumn("ppl_bucket",
      when(col("ppl") <= hCut, "head")
        .when(col("ppl") <= mCut, "middle")
        .otherwise("tail"))
  }
}
