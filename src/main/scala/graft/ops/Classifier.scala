package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** FastText-style linear quality/domain classifier over hashed n-gram
  * features — the "model-based filtering" stage of LLM data curation
  * (GPT-3's WebText-vs-CommonCrawl logistic regression, CCNet's linear
  * classifiers, DCLM's fastText filter): train a binary classifier on a
  * small labeled set (curated vs raw, in-domain vs out), score the whole
  * corpus, keep what the model likes.
  *
  * Spark shape — train-small/apply-everywhere, like [[Bpe]] and [[Lm]]:
  *
  *   - TRAINING is the classic sequential AVERAGED PERCEPTRON over
  *     hashed features, run on the driver: labeled sets for quality
  *     classifiers are small by definition (curated positives + sampled
  *     negatives — fastText itself is a single-node trainer), so the
  *     train-small/apply-everywhere split puts feature EXTRACTION in a
  *     distributed one-pass scan (HashedNgramCountsExpr) and the update
  *     loop on the collected sparse features, bounded by `maxTrainDocs`.
  *     Per-example updates dodge full-batch descent's conditioning trap
  *     (the all-ones bias direction needs a far smaller stable step than
  *     the sparse text features, so constant-rate batch steps oscillate
  *     around a class gap narrower than their own granularity). Every
  *     quantity is an integer in micro-units and examples are processed
  *     in ascending-id order, so training is bit-for-bit deterministic —
  *     and no transcendental function appears anywhere (unlike logistic
  *     descent, whose sigmoid drags libm in), so even the trainer is
  *     exactly replayable by an independent engine.
  *
  *   - SCORING is a pure scan: features hash per row, the dot rides the
  *     task closure, nothing shuffles. `predicted` uses the integer margin
  *     sign (dot + bias·n_feats > 0), so the decision — not just the
  *     score — replays exactly in an independent SQL engine (the
  *     `ns_quality_classifier` oracle recomputes bucket counts, dot and
  *     sign value-for-value).
  *
  * Features are L1-mean-normalized in the margin (dot/n_feats) so document
  * length does not dominate; the bias folds into the integer sign test as
  * `bias · n_feats`.
  */
object Classifier {

  /** A trained model: per-bucket weights + bias in integer micro-units,
    * plus the feature-hash parameters that produced it (carried together
    * so scoring hashes into the same buckets — same rationale as
    * [[Dedup.MinhashIndex]]).
    */
  final case class QualityModel(weightsMicro: Array[Long], biasMicro: Long,
      buckets: Int, maxN: Int) {

    private[Classifier] def dotOnFeatures(features: Column): Column = {
      val zeros = new Array[Long](buckets)
      graft.functions.text.dsirDot(features, weightsMicro, zeros, zeros)
    }
    private[Classifier] def dotStruct(text: Column): Column =
      dotOnFeatures(
        graft.functions.text.hashedNgramCounts(text, buckets, maxN))
  }

  /** Train: distributed one-pass feature extraction, then the sequential
    * averaged perceptron on the collected sparse features in ascending
    * `idCol` order (the deterministic processing order).
    *
    * Per example, with sign s = 2y−1 and the margin the SCORER uses
    * (`dot + bias·nf`, i.e. mean-normalized features scaled by nf): a
    * non-positive signed margin updates `w_b += s·(1e6·c div nf)` and
    * `bias += s·1e6`; the returned model averages the weights over all
    * example visits (the standard variance-reducing averaged form).
    * Integer arithmetic throughout — no libm, no floats, no
    * order-dependent sums.
    *
    * @param labeled  frame with `idCol`, `textCol` and a 0/1 (or boolean)
    *                 `labelCol`; at most `maxTrainDocs` rows (the model is
    *                 driver-resident train-small state, like [[Bpe]]'s
    *                 merge table — pre-sample bigger label sets)
    */
  def train(labeled: DataFrame, textCol: String, labelCol: String,
      idCol: String, buckets: Int = 1 << 16, maxN: Int = 1, iters: Int = 10,
      maxTrainDocs: Int = 200000): QualityModel = {
    require(buckets >= 1 && maxN >= 1 && iters >= 1, "bad hyperparameters")
    // size guard BEFORE collecting features: the bound exists to protect
    // the driver, so it must run distributed (limit+count is one cheap
    // early-out job), not after a potentially huge collect
    require(labeled.limit(maxTrainDocs + 1).count() <= maxTrainDocs,
      s"labeled set exceeds maxTrainDocs=$maxTrainDocs — sample it first")
    val rows = labeled.select(
      col(idCol).cast("long").as("__id"),
      col(labelCol).cast("long").as("__y"),
      graft.functions.text.hashedNgramCounts(col(textCol), buckets, maxN).as("__f"))
      .withColumn("__nf", expr("aggregate(__f, CAST(0 AS BIGINT), (acc, x) -> acc + x.c)"))
      .filter(col("__nf") > 0)
      .collect()
    require(rows.nonEmpty, "no trainable documents (all empty?)")
    val data = rows.map { r =>
      val f = r.getSeq[org.apache.spark.sql.Row](2)
        .map(x => (x.getInt(0), x.getLong(1))).toArray
      (r.getLong(0), r.getLong(1) * 2 - 1, f, r.getLong(3))
    }.sortBy(_._1)

    // lazy averaging (Daumé's trick): track u_b = Σ Δ·(t−1) per update so
    // the average over all T visits is w_b − u_b/T without touching every
    // bucket every example — O(sparsity) per update, not O(buckets)
    val w = new Array[Long](buckets)
    val u = new Array[Long](buckets)
    var bias = 0L
    var biasU = 0L
    var t = 0L
    for (_ <- 1 to iters) data.foreach { case (_, s, f, nf) =>
      t += 1
      var dot = 0L
      f.foreach { case (b, c) => dot += c * w(b) }
      if (s * (dot + bias * nf) <= 0) {
        f.foreach { case (b, c) =>
          val d = s * ((1000000L * c) / nf)
          w(b) += d
          u(b) += d * (t - 1)
        }
        bias += s * 1000000L
        biasU += s * 1000000L * (t - 1)
      }
    }
    val avg = Array.tabulate(buckets)(b => w(b) - u(b) / t)
    QualityModel(avg, bias - biasU / t, buckets, maxN)
  }

  /** Score documents: `(id, n_feats, dot_micro, predicted)` where
    * `predicted ⇔ dot + bias·n_feats > 0` (the margin sign as a pure
    * integer test). One scan, zero shuffle.
    */
  def score(docs: DataFrame, model: QualityModel, textCol: String,
      idCol: String): DataFrame =
    docs.select(col(idCol).as("id"), model.dotStruct(col(textCol)).as("__d"))
      .select(col("id"), col("__d.n_feats").as("n_feats"),
        col("__d.t_hits").as("dot_micro"))
      .withColumn("predicted",
        col("dot_micro") + lit(model.biasMicro) * col("n_feats") > 0)

  /** Keep documents the classifier accepts — the corpus-filtering form.
    * ROW-LOCAL (round-6 rewrite): the margin decision evaluates inline in
    * the filter predicate — one scan, zero shuffle — where the previous
    * form semi-joined docs against their own scored ids (a second pass
    * plus an exchange at 100 TB for the identical decision, and a
    * stream-stream join on streaming frames). Decision is integer and
    * identical to [[score]]'s `predicted` by construction.
    */
  def filterQuality(docs: DataFrame, model: QualityModel, textCol: String,
      idCol: String): DataFrame = {
    val d = model.dotStruct(col(textCol))
    docs.filter(
      d.getField("t_hits") + lit(model.biasMicro) * d.getField("n_feats") > 0)
  }
}
