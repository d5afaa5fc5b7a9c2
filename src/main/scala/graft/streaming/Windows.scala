package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.exact.{cosPermille, normSq, quantized}
import graft.functions.text.wordsOf
import graft.ops.EvalMetrics.integralMetric

/** Event-time streaming operators — the capability tier the reference
  * explicitly delegates to Spark ("stream joins and aggregations ... better
  * handled in products such as Spark", reference README.md:21). These are
  * the north-star streaming additions: watermarked windowed aggregation,
  * session windows, and custom keyed state via flatMapGroupsWithState.
  *
  * All operators work identically on batch frames (windows become plain
  * groupBys), which is how the harness verifies them deterministically.
  */
object Windows {

  /** Streaming exact dedup: drop rows whose key columns were already seen
    * within the watermark horizon — the streaming form of insert-id dedup
    * (G5) and digest-exact dedup. dropDuplicatesWithinWatermark evicts
    * per-key state once the watermark passes, so state is bounded by the
    * dedup horizon × key arrival rate, never by stream length (plain
    * dropDuplicates on a stream grows state forever). For content dedup
    * pass a digest column (md5(text)) as the key, keeping state entries
    * at ~16 bytes instead of document size.
    */
  def streamingDedup(df: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming NEAR-duplicate dedup: drop events whose 64-bit SimHash
    * fingerprint was already seen within the watermark horizon. SimHash
    * equality is the tightest near-dup gate (hamming distance 0 — reworded
    * boilerplate, shuffled token order, minor edits collapse to the same
    * fingerprint with high probability), and keying state by the 8-byte
    * fingerprint instead of the text keeps each state entry constant-size.
    * Banded Hamming-neighborhood matching (the batch simhashCandidates
    * semantics) needs multi-key state the engine doesn't expose; for
    * streams, fingerprint equality is the standard first tier, with batch
    * reconciliation sweeping the hamming<=k tail.
    */
  def streamingNearDedup(df: DataFrame, tsCol: String, textCol: String,
      watermark: String): DataFrame =
    df.withColumn("__simhash", graft.functions.text.simhash64(wordsOf(col(textCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__simhash")
      .drop("__simhash")

  /** Streaming incremental dedup against a STATIC corpus index — the
    * stream-static join tier and the continuous-ingestion form of
    * [[graft.ops.Dedup.incrementalExact]]: each micro-batch left-anti
    * joins its content digests against a persisted
    * [[graft.ops.Dedup.exactIndex]] frame (only corpus-novel rows
    * survive), then within-stream duplicates collapse via watermarked
    * digest state. The static side re-plans per micro-batch, so swapping
    * the index table (e.g. after a nightly compaction folds the day's
    * accepted digests in) is picked up on the next batch without
    * restarting the query. State entries are ~16-byte digests bounded by
    * the watermark horizon; the join side is the digest-only index, never
    * corpus text.
    */
  def streamingIncrementalDedup(stream: DataFrame, index: DataFrame,
      tsCol: String, textCol: String, watermark: String): DataFrame =
    stream.withColumn("__digest", md5(col(textCol)))
      .join(index.select(col("digest").as("__digest")), Seq("__digest"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** Streaming NEAR-dup dedup against a persisted corpus
    * [[graft.ops.Dedup.MinhashIndex]] — the LSH-recall upgrade of
    * [[streamingIncrementalDedup]]: an incoming document is dropped when
    * ANY of its LSH bands matches an index entry with full band-signature
    * equality (exactly [[graft.ops.Dedup.incrementalMinhashCandidates]]'s
    * candidate semantics, shared expressions), or when an
    * identical-signature document already passed within the watermark
    * horizon (the within-stream tier — banded within-stream matching
    * would need multi-key state the engine doesn't expose; the batch
    * generators sweep that tail).
    *
    * Plan shape: one band = one stream-static LEFT ANTI equi-join on the
    * band's bucket (residual full-band filter on top), so the chain is
    * `bands` hash joins against static index slices — no state beyond the
    * final watermark-bounded signature dedup, and cost scales with stream
    * rate × bucket hit rate, never corpus size. The per-band `maxBucket`
    * cap is the same skew guard as everywhere banding exists.
    */
  def streamingIncrementalNearDedup(stream: DataFrame,
      index: graft.ops.Dedup.MinhashIndex, tsCol: String, textCol: String,
      watermark: String, maxBucket: Int = 64): DataFrame = {
    require(index.numHashes % index.bands == 0, "numHashes must be divisible by bands")
    val rows = index.numHashes / index.bands
    val withSig = stream
      .withColumn("__mh", graft.ops.Dedup.minhashSigAndBuckets(col(textCol),
        index.shingleLen, index.numHashes, index.bands))
      .withColumn("__sig", col("__mh.sig"))
      .withColumn("__bks", col("__mh.buckets"))
      .drop("__mh")
    val idx = graft.ops.Dedup.capBuckets(index.entries, Seq("band", "bucket"), maxBucket)
    antiJoinIndex(stream, withSig, (0 until index.bands).map { b =>
      idx.filter(col("band") === b)
        .select(col("bucket").as(s"__bkt$b"), col("sig").as(s"__sigA$b")) ->
        (element_at(col("__bks"), b + 1) === col(s"__bkt$b") &&
          graft.ops.Dedup.fullBandEq(col(s"__sigA$b"), col("__sig"), lit(b), rows))
    }, xxhash64(col("__sig")), tsCol, watermark)
  }

  /** The stream-static tail the three index twins share: `keyed` (the
    * stream plus its `__` temp columns) LEFT ANTI joins each index slice
    * on that slice's condition, the survivors dedup on `key` within the
    * watermark horizon, and the temp columns drop, leaving the stream's.
    */
  private def antiJoinIndex(stream: DataFrame, keyed: DataFrame,
      slices: Seq[(DataFrame, Column)], key: Column, tsCol: String,
      watermark: String): DataFrame =
    slices.foldLeft(keyed) { case (cur, (slice, on)) => cur.join(slice, on, "left_anti") }
      .withColumn("__dupkey", key)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__dupkey")
      .drop(keyed.columns.diff(stream.columns).toIndexedSeq :+ "__dupkey": _*)

  /** SimHash twin of [[streamingIncrementalNearDedup]]: drop stream docs
    * within Hamming distance `maxDist` of any corpus doc in a persisted
    * [[graft.ops.Dedup.SimhashIndex]] — one stream-static LEFT ANTI join
    * per band (chunk equi-key pre-filter + Hamming residual, the same
    * shared band expression as the batch generator, so stream and batch
    * cannot drift), then a watermark-bounded identical-fingerprint dedup
    * within the stream. Per-event cost is 4 × bucket hit rate regardless
    * of corpus size; the only keyed state is the final fingerprint dedup.
    */
  def streamingIncrementalNearDedupSimhash(stream: DataFrame,
      index: graft.ops.Dedup.SimhashIndex, tsCol: String, textCol: String,
      watermark: String, maxDist: Int = 3, maxBucket: Int = 64): DataFrame = {
    val withFp = stream
      .withColumn("__fp", graft.functions.text.simhash64(wordsOf(col(textCol))))
      .withColumn("__chunks", graft.ops.Dedup.simhashBandCols(col("__fp")))
    val idx = graft.ops.Dedup.capBuckets(index.entries, Seq("band", "chunk"), maxBucket)
    antiJoinIndex(stream, withFp, (0 until 4).map { b =>
      idx.filter(col("band") === b)
        .select(col("chunk").as(s"__ck$b"), col("simhash").as(s"__fpA$b")) ->
        (element_at(col("__chunks"), b + 1) === col(s"__ck$b") &&
          bit_count(col("__fp").bitwiseXOR(col(s"__fpA$b"))) <= maxDist)
    }, col("__fp"), tsCol, watermark)
  }

  /** Embedding twin of [[streamingIncrementalNearDedup]]: drop stream
    * rows whose vector scores `minCosPermille`+ integer cosine against
    * ANY corpus vector in a persisted [[graft.ops.Dedup.EmbedIndex]] —
    * one stream-static LEFT ANTI join per hash table (hyperplane bucket
    * equi-key pre-filter + the integer-cosine residual as the join
    * condition, quantized with the INDEX's captured scale so stream and
    * batch cannot drift), then a watermark-bounded identical-vector
    * dedup within the stream. Per-event cost is `tables` × bucket hit
    * rate × one integer dot, regardless of corpus size; the only keyed
    * state is the final quantized-vector-hash dedup. Same single-table
    * recall caveat as the batch generator: collision is probabilistic —
    * raise `tables` at build, not here.
    */
  def streamingIncrementalEmbedDedup(stream: DataFrame,
      index: graft.ops.Dedup.EmbedIndex, tsCol: String, vecCol: String,
      watermark: String, minCosPermille: Long,
      maxBucket: Int = 1024): DataFrame = {
    val withQ = stream
      .withColumn("__v", col(vecCol).cast("array<double>"))
      .withColumn("__keys", graft.functions.text.hyperplaneKeys(col("__v"),
        index.planes, index.tables))
      .withColumn("__qm", quantized(col("__v"), index.quantScale))
      .withColumn("__qnsq", normSq(col("__qm")))
    val idx = graft.ops.Dedup.capBuckets(index.entries, Seq("key"), maxBucket)
    antiJoinIndex(stream, withQ, (0 until index.tables).map { tb =>
      idx.select(col("key").as(s"__k$tb"),
        col("vec_micro").as(s"__im$tb"), col("nsq_micro2").as(s"__in$tb")) ->
        (element_at(col("__keys"), tb + 1) === col(s"__k$tb") &&
          col("__qnsq") > 0 && col(s"__in$tb") > 0 &&
          cosPermille(col("__qm"), col("__qnsq"), col(s"__im$tb"), col(s"__in$tb"))
            >= minCosPermille)
    }, xxhash64(col("__qm")), tsCol, watermark)
  }

  /** The windowing step every windowed aggregate below shares: the
    * watermark applies only to a streaming input (on a batch frame the
    * window is a plain group key — how the batch twins and the parity
    * laws run the same code), `agg` groups the watermarked frame by the
    * event-time window it is handed (aliased `__w`) plus its own keys, and
    * the window's bounds lead the output as window_start/window_end,
    * followed by every other column `agg` returns.
    */
  private def windowed(df: DataFrame, tsCol: String, windowDuration: String,
      watermark: String, slideDuration: Option[String] = None)(
      agg: (DataFrame, Column) => DataFrame): DataFrame = {
    val src = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    val w = slideDuration.fold(window(col(tsCol), windowDuration))(
      window(col(tsCol), windowDuration, _))
    agg(src, w.as("__w"))
      .select(col("__w.start").as("window_start"), col("__w.end").as("window_end"),
        col("*"))
      .drop("__w")
  }

  /** Tumbling/sliding windowed counts + sums per key with a watermark:
    * the standard event-time aggregation. Late rows beyond the watermark
    * are dropped by the engine — at scale the watermark bounds state size.
    */
  def windowedAgg(
      df: DataFrame,
      tsCol: String,
      keyCol: String,
      valueCol: String,
      windowDuration: String,
      slideDuration: Option[String] = None,
      watermark: String = "10 minutes"
  ): DataFrame =
    windowed(df, tsCol, windowDuration, watermark, slideDuration) { (src, w) =>
      src.groupBy(w, col(keyCol))
        .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
    }

  /** Streaming twin of [[graft.ops.Temporal.activeActors]]: event counts
    * and distinct-actor counts per tumbling event-time window with a
    * watermark. The distinct count is the HLL++ SKETCH tier
    * (`approx_count_distinct` — exact streaming distinct would hold every
    * actor id per open window in state; the sketch holds fixed-size
    * state, the same exact/sketch split the batch operator documents for
    * 100 TB actor cardinalities). `rsd` is the sketch's relative standard
    * deviation; the batch twin is the exact tier and the divergence is
    * bounded by it (test-gated). Late rows beyond the watermark drop;
    * state is one sketch + one counter per open window.
    */
  def streamingActiveActors(df: DataFrame, tsCol: String, actorCol: String,
      windowDuration: String, watermark: String = "10 minutes",
      rsd: Double = 0.02): DataFrame =
    windowed(df, tsCol, windowDuration, watermark) { (src, w) =>
      src.groupBy(w).agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col(actorCol), rsd).as("n_actors_approx"))
    }

  /** Session windows (gap-based) via the built-in session_window —
    * state-bounded by the watermark.
    */
  def sessionAgg(
      df: DataFrame,
      tsCol: String,
      keyCol: String,
      gap: String,
      watermark: String = "10 minutes"
  ): DataFrame = {
    val src = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    src.groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col(keyCol), col("n"))
  }

  /** Streaming ingest-quality monitor — the dashboard aggregate a corpus
    * ingestion pipeline watches per micro-batch: for every (event-time
    * window, group) it emits document volume, token volume, how many docs
    * pass the caller's `keep` predicate (plug in any scan-stage signal:
    * [[graft.ops.Curation.qualityFilter]]-style thresholds,
    * [[graft.ops.TextAnalysis.langId]] agreement, PII counts), the empty
    * count, and an HLL estimate of distinct content digests (the
    * within-window dup-rate signal — exact streaming distinct would need
    * unbounded state; the batch dedup operators own the exact answer).
    *
    * The same call works on a batch frame (the watermark applies only to
    * streams), so closed-history equivalence is testable and the
    * deterministic columns oracle-gate in batch mode (`ns_stream_monitor`
    * projects the HLL column away — cross-engine sketch values don't
    * replay). State is one row per (window, group) bounded by the
    * watermark; all counters partial-aggregate map-side, so the exchange
    * carries counter rows, never documents.
    */
  def streamingCorpusMonitor(docs: DataFrame, tsCol: String, textCol: String,
      groupCol: String, windowDuration: String,
      keep: Column, watermark: String = "10 minutes"): DataFrame =
    windowed(docs, tsCol, windowDuration, watermark) { (src, w) =>
      src.groupBy(w, col(groupCol))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(graft.ops.TextAnalysis.wsTokenCount(col(textCol))).as("n_tokens"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          sum(when(length(trim(col(textCol))) === 0, 1L).otherwise(0L)).as("n_empty"),
          approx_count_distinct(md5(col(textCol))).as("approx_distinct"))
    }

  /** Streaming twin of [[graft.ops.Profile.calibrationAudit]]: per
    * tumbling window, the reliability-diagram buckets of a live scorer —
    * the drift monitor that catches a quality/reward model going
    * miscalibrated IN PRODUCTION (a filter thresholded at 0.8 silently
    * over- or under-deleting as the corpus shifts), window by window
    * rather than after the next offline audit. The bucket aggregate and
    * finish are the batch operator's own
    * ([[graft.ops.Profile.calibrationOver]]); on a closed in-order history the
    * per-window rows equal the batch operator applied per window slice
    * (the StreamingSpec parity law). One windowed keyed aggregate —
    * state is (window × bucket)-sized, bounded by the watermark.
    *
    * Inputs must already be range-checked milli scores; unlike the batch
    * auditor this does NOT raise on poison rows (a poison row must not
    * kill the monitoring query — the standard streaming leniency):
    * out-of-range scores bucket under div semantics and surface as
    * impossible bucket ids, and NULL-label/NULL-score rows are DROPPED
    * before the aggregate (counting them in `n` but not `n_pos` would
    * silently deflate the observed rate — the failure mode the batch
    * auditor raises on).
    */
  def streamingCalibration(df: DataFrame, tsCol: String, scoreMilliCol: String,
      labelCol: String, windowDuration: String, bucketWidth: Long = 100L,
      watermark: String = "10 minutes"): DataFrame =
    windowed(df, tsCol, windowDuration, watermark) { (src, w) =>
      graft.ops.Profile.calibrationOver(
        src.where(col(labelCol).isNotNull && col(scoreMilliCol).isNotNull),
        Seq(w), col(scoreMilliCol).cast("long"), col(labelCol).cast("long"),
        bucketWidth)
    }

  /** Streaming twin of [[graft.ops.Profile.distributionDrift]] against a
    * FROZEN reference: per tumbling window, the KS statistic and
    * Wasserstein-1 distance between the window's value histogram and a
    * fixed reference distribution (permille shares per equal-width
    * bucket over [lo, hi]) — the live alarm for "this feed stopped
    * looking like the corpus we calibrated on", window by window instead
    * of at the next offline audit.
    *
    * Streaming-legal shape: ONE windowed aggregate whose row pivots the
    * per-bucket counts wide (`sum(when(bucket = i, 1))` per bucket —
    * Structured Streaming forbids an aggregate over an aggregate, so the
    * cross-bucket CDF fold happens ROW-LOCALLY on the wide row; bucket
    * count ≤ 64 guarded for expression width). State is window-sized ×
    * `buckets` longs, bounded by the watermark. Same integer contract as
    * the batch operator: xᵢ = |cumᵢ·10⁶ − refCumMicroᵢ·tot|, one division
    * at the end (exact while window rows ≤ 9·10¹²).
    *
    * Output: (window_start, window_end, n_obs, ks_micro, emd_micro).
    * Out-of-range values clamp into edge buckets; NULL values drop.
    */
  def streamingDistributionDrift(df: DataFrame, tsCol: String, valueCol: String,
      referenceShares: Seq[Long], windowDuration: String, lo: Long, hi: Long,
      watermark: String = "10 minutes"): DataFrame = {
    val buckets = referenceShares.length
    require(buckets >= 2 && buckets <= 64,
      "referenceShares length (bucket count) must be in [2, 64]")
    require(referenceShares.forall(s => s >= 0L && s <= 1000L) &&
      referenceShares.sum == 1000L,
      "referenceShares must be permille values summing to 1000")
    require(lo < hi, "lo must be < hi")
    require(BigInt(hi) - BigInt(lo) <= Long.MaxValue,
      "hi - lo must fit a long (the span literal)")
    // cast-filter + the SHARED clamp-then-bucket definition (the batch
    // twin's — the two ops must agree on which bucket a value lands in)
    val v = col(valueCol).cast("long")
    val bk = graft.ops.Profile.clampedBucket(v, lo, hi, buckets)
    val aggs = (0 until buckets).map(i =>
      sum(when(col("__bk") === i, 1L).otherwise(0L)).as(s"__n$i"))
    val refCumMicro: Seq[Long] =
      referenceShares.scanLeft(0L)(_ + _).tail.map(_ * 1000L)
    val tot = (0 until buckets).map(i => col(s"__n$i")).reduce(_ + _)
    val xs = (0 until buckets).map { i =>
      val cum = (0 to i).map(j => col(s"__n$j")).reduce(_ + _)
      abs(cum * 1000000L - lit(refCumMicro(i)) * col("__tot"))
    }
    windowed(df, tsCol, windowDuration, watermark) { (src, w) =>
      src.where(v.isNotNull)
        .withColumn("__bk", bk)
        .groupBy(w)
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("__tot", tot)
        .select(col("__w"), col("__tot").as("n_obs"),
          call_function("div", xs.reduce(greatest(_, _)), col("__tot")).as("ks_micro"),
          call_function("div", xs.reduce(_ + _), col("__tot")).as("emd_micro"))
    }
  }

  /** Streaming twin of [[graft.ops.EvalMetrics.passAtK]]: per tumbling
    * window and problem, the Chen-2021 unbiased pass@k over the window's
    * samples — the live eval dashboard ("is the new checkpoint's pass@1
    * sliding?") without waiting for the offline sweep.
    *
    * Streaming-legal shape: ONE windowed aggregate takes (n, c) per
    * (window, problem); the k-step micro fold and the per-k explode are
    * STATELESS projections over finalized aggregate rows (Structured
    * Streaming forbids a second aggregate, not a generator). The
    * aggregate, explode and fold are the batch operator's own
    * ([[graft.ops.EvalMetrics.passAtKOver]]) — the fold's compounded
    * floors replay anywhere; k > n is NULL. State is
    * windows × problems rows, bounded by the watermark.
    *
    * Output: (window_start, window_end, problem, n_samples, n_passed,
    * k, pass_at_k_micro).
    */
  def streamingPassAtK(df: DataFrame, tsCol: String, problemCol: String,
      passedCol: String, ks: Seq[Int], windowDuration: String,
      watermark: String = "10 minutes"): DataFrame =
    windowed(df, tsCol, windowDuration, watermark) { (src, w) =>
      graft.ops.EvalMetrics.passAtKOver(src,
        Seq(w, col(problemCol).as("problem")), passedCol, ks)
    }

  /** Streaming twin of [[graft.ops.EvalMetrics.selfConsistency]]: per
    * tumbling window and problem, the Wang-2022 majority vote — the live
    * agreement-drift dashboard next to [[streamingPassAtK]] ("are the
    * sampled chains still converging on one answer?").
    *
    * Streaming-legal shape: the batch operator's two-groupBy shape
    * (votes per (problem, answer) → per-problem argmax) is ILLEGAL here
    * — Structured Streaming forbids an aggregate over an aggregate — so
    * the vote collapses to ONE windowed aggregate that pivots the
    * per-answer counts WIDE (`sum(when(answer = a, 1))` per a — the
    * [[streamingDistributionDrift]] wide-pivot pattern) and the argmax
    * becomes a ROW-LOCAL stateless projection over the wide row
    * (greatest + first-match CASE, ascending — ties to the smallest
    * answer, the batch operator's exact tie-break). The price of
    * streaming legality is a BOUNDED answer domain: answers must be
    * integers in [0, nAnswers), nAnswers ≤ 64 (guarded for expression
    * width, like the drift monitor's buckets) — the natural shape for
    * MC evals and bucketed free-form answers; hash wider domains into
    * the bound upstream. NULL and out-of-domain answers are abstentions
    * (dropped before the vote — out-of-domain values are protocol noise,
    * and counting them would let one corrupt sampler shift every
    * majority). A (window, problem) whose samples all abstain emits no
    * row. State is windows × problems rows of nAnswers longs, bounded by
    * the watermark.
    *
    * Output: (window_start, window_end, problem, majority_answer,
    * n_majority, n_samples, majority_permille) — the batch operator's
    * columns plus the window bounds (the batch==stream parity law
    * StreamingSpec asserts).
    */
  def streamingSelfConsistency(df: DataFrame, tsCol: String,
      problemCol: String, answerCol: String, nAnswers: Int,
      windowDuration: String, watermark: String = "10 minutes"): DataFrame = {
    require(nAnswers >= 2 && nAnswers <= 64,
      "nAnswers (answer domain size) must be in [2, 64]")
    val ans = col(answerCol).cast("long")
    val aggs = (0 until nAnswers).map(a =>
      sum(when(col("__ans") === a, 1L).otherwise(0L)).as(s"__v$a"))
    val best = (0 until nAnswers).map(a => col(s"__v$a")).reduce(greatest(_, _))
    val majority = (0 until nAnswers).foldRight(lit(null).cast("long")) {
      // ascending first-match: a CASE chain evaluates in order, so fold
      // from the HIGHEST answer outward and let lower answers override —
      // the smallest answer holding the max count wins, the batch
      // operator's (-answer) max-struct tie-break exactly
      case (a, rest) => when(col(s"__v$a") === col("__best"), a.toLong)
        .otherwise(rest)
    }
    windowed(df, tsCol, windowDuration, watermark) { (src, w) =>
      src
        .where(ans.isNotNull && ans >= 0 && ans < nAnswers)
        .withColumn("__ans", ans)
        .groupBy(w, col(problemCol).as("problem"))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("__best", best)
        .withColumn("n_samples",
          (0 until nAnswers).map(a => col(s"__v$a")).reduce(_ + _))
        .select(col("__w"), col("problem"), majority.as("majority_answer"),
          col("__best").as("n_majority"), col("n_samples"),
          call_function("div", col("__best") * 1000L, col("n_samples"))
            .as("majority_permille"))
    }
  }

  /** Streaming corpus-BLEU monitor: per tumbling window, the pooled BLEU
    * components and micro-average geo precision of the window's
    * (candidate, reference) pairs — the live translation/generation
    * quality dashboard ("did the new model's BLEU slide?") window by
    * window instead of at the next offline sweep.
    *
    * Streaming-legal shape: the distributed clip
    * ([[graft.ops.EvalMetrics.ngramOverlap]]'s (pair, n, gram) aggregate)
    * is itself an aggregate, and the window pool would be a second — so
    * the clip runs ROW-LOCALLY
    * ([[graft.ops.EvalMetrics.withRowLocalBleuComponents]]: one bounded
    * hash-multiset pass per row, truncation BEFORE the kernel) and the
    * window pool is the ONE windowed aggregate; the staged isqrt geo is
    * a stateless
    * projection over finalized rows. The pool and root arithmetic are
    * the batch [[graft.ops.EvalMetrics.corpusBleu]]'s own
    * (corpusBleuOver — one shared fragment), so the live number equals
    * the batch number over the same closed window (the StreamingSpec
    * parity law), modulo the maxTokens truncation this twin's row-local
    * clip imposes on both sides. State is windows × 11 longs, bounded by
    * the watermark.
    *
    * Output: (window_start, window_end, n_pairs, cand_tokens, ref_tokens,
    * matches_n / total_n for n = 1..4, precision_geo_permille).
    */
  def streamingCorpusBleu(df: DataFrame, tsCol: String, candCol: String,
      refCol: String, windowDuration: String, maxTokens: Int = 64,
      watermark: String = "10 minutes"): DataFrame = {
    require(maxTokens >= 4 && maxTokens <= 256,
      "maxTokens must be in [4, 256] (the row-local clip is maxTokens^2)")
    // rename FIRST, watermark on the renamed column (watermark metadata
    // rides the attribute — tag the exact attribute the window reads)
    val base = df.select(col(tsCol).as("__ts"), col(candCol).as("__cand"),
      col(refCol).as("__ref"))
    windowed(base, "__ts", windowDuration, watermark) { (src, w) =>
      graft.ops.EvalMetrics.corpusBleuOver(
        graft.ops.EvalMetrics.withRowLocalBleuComponents(
          src, "__cand", "__ref", Some(maxTokens)), Seq(w))
    }
  }

  /** Streaming n-gram novelty monitor: per tumbling window and n, the
    * share of the window's word n-gram instances absent from a FROZEN
    * reference gram set ([[graft.ops.EvalMetrics.referenceGramSet]]) —
    * the live memorization alarm ("is the generator starting to parrot
    * the training corpus?") next to the batch
    * [[graft.ops.EvalMetrics.ngramNovelty]] audit.
    *
    * Streaming-legal shape: the gram explode is a stateless generator;
    * membership against the reference is a STREAM-STATIC left outer
    * join (static side carries a hit marker — an anti-join would drop
    * the matched rows and lose the total; Structured Streaming allows
    * stream-static joins with the stream on the left, no watermark
    * state); the pool is the ONE windowed aggregate. State is
    * windows × maxN rows. The reference arrives as a
    * [[graft.ops.EvalMetrics.NoveltyIndex]] — the SAME type the batch
    * path takes, and for the same reason: the index's entries are
    * distinct by construction and carry their own maxN, so a
    * non-distinct static side (whose join multiplicity would silently
    * INFLATE total_grams and distort novelty_permille) and an n-order
    * mismatch are both unrepresentable, not merely documented away.
    * The index frame is the static side of every micro-batch's join —
    * persist it (or read it from a bucketed table) for a long-running
    * query; at 100 TB the reference set is the artifact, built once by
    * referenceGramSet/noveltyIndex.
    *
    * Output: (window_start, window_end, n, total_grams, novel_grams,
    * novelty_permille). Windows with no gram at some n emit no row for
    * that n (the batch convention).
    */
  def streamingNovelty(df: DataFrame, tsCol: String, textCol: String,
      index: graft.ops.EvalMetrics.NoveltyIndex, windowDuration: String,
      watermark: String = "10 minutes"): DataFrame = {
    val maxN = index.maxN
    // defense in depth: NoveltyIndex entries are distinct by
    // construction (noveltyIndex builds them via one dedup), but the
    // case class's frame is caller-suppliable (e.g. re-read from a
    // table) — the dropDuplicates is a no-op on a well-formed index and
    // removes the join-multiplicity failure mode on a malformed one
    val refGrams = index.entries.dropDuplicates("n", "gram")
    require(!refGrams.isStreaming,
      "the novelty index must be a static frame (stream-static join contract)")
    val base = df.select(col(tsCol).as("__ts"), col(textCol).as("__text"))
    val specs = array((1 to maxN).map(n => lit(n.toLong)): _*)
    windowed(base, "__ts", windowDuration, watermark) { (src, w) =>
      src
        .select(col("__ts"), graft.ops.EvalMetrics.toksOf(col("__text")).as("__t"))
        .withColumn("n", explode(specs))
        .select(col("__ts"), col("n"),
          explode(graft.ops.EvalMetrics.wordGramsOf(col("__t"), col("n")))
            .as("gram"))
        .join(refGrams.select(col("n"), col("gram"), lit(1L).as("__hit")),
          Seq("n", "gram"), "left_outer")
        .groupBy(w, col("n"))
        .agg(count(lit(1)).as("total_grams"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("novel_grams"))
        .withColumn("novelty_permille",
          call_function("div", col("novel_grams") * 1000L, col("total_grams")))
    }
  }

  /** Streaming rep-n monitor: per tumbling window and n, the pooled
    * within-document repetition share of the window's texts
    * (micro-average of [[graft.ops.EvalMetrics.seqRepN]]: Σ repeated
    * instances over Σ instances — a generator that starts looping moves
    * this long before sampled-eval scores do). Streaming-legal by
    * construction: the per-doc total/distinct counts are ONE row-local
    * kernel pass (`GramRepCountsExpr`) exploded statelessly, the window
    * pool is the one aggregate. State = windows × maxN rows.
    *
    * Output: (window_start, window_end, n, n_docs, total_grams,
    * distinct_grams, rep_permille). Documents with no n-gram at some n
    * contribute nothing there (the batch convention); a window with no
    * gram at any doc for some n emits no row for that n.
    */
  def streamingSeqRep(df: DataFrame, tsCol: String, textCol: String,
      windowDuration: String, maxN: Int = 3,
      watermark: String = "10 minutes"): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    val base = df.select(col(tsCol).as("__ts"), col(textCol).as("__text"))
    windowed(base, "__ts", windowDuration, watermark) { (src, w) =>
      src
        .select(col("__ts"),
          explode(graft.functions.text.gramRepCounts(
            graft.ops.EvalMetrics.toksOf(col("__text")), maxN)).as("__g"))
        .groupBy(w, col("__g.n").as("n"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__g.total_grams")).as("total_grams"),
          sum(col("__g.distinct_grams")).as("distinct_grams"))
        .withColumn("rep_permille", lit(1000L) - call_function("div",
          col("distinct_grams") * 1000L, col("total_grams")))
    }
  }

  /** Streaming paired-eval A/B monitor: per tumbling window, the paired
    * comparison of two co-flowing systems scored on the SAME items —
    * the live "did the new model actually get better?" dashboard next
    * to the offline significance tests
    * ([[graft.ops.EvalMetrics.pairedBootstrapMetric]] /
    * `approxRandomization` run on closed data; this watches the delta
    * move window by window). Rows arrive with BOTH systems' integer
    * metrics for one item (the pairing happens upstream, where the item
    * was scored twice — a stream-stream self-join would need watermark
    * state for nothing); a row missing either side abstains (dropped —
    * a paired comparison needs both; `n_pairs` makes thinning visible).
    * Metrics must be integral — a fractional value FAILS the query
    * loudly (the batch family's [[graft.ops.EvalMetrics.integralMetric]] guard; silent
    * truncation in a monitor is worse than a crash, because the monitor
    * exists to be trusted).
    *
    * Streaming-legal shape: row-local guarded delta, ONE windowed
    * aggregate, stateless mean projection over finalized rows. State =
    * one row of 5 longs per open window.
    *
    * Output: (window_start, window_end, n_pairs, a_wins, b_wins, ties,
    * delta_sum, mean_delta_milli = 1000·Σd div n — NULL only when a
    * window is empty, which emits no row anyway).
    */
  def streamingPairedDelta(df: DataFrame, tsCol: String, aCol: String,
      bCol: String, windowDuration: String,
      watermark: String = "10 minutes"): DataFrame = {
    val base = df.select(col(tsCol).as("__ts"),
      col(aCol).as("__ma"), col(bCol).as("__mb"))
    windowed(base, "__ts", windowDuration, watermark) { (src, w) =>
      src
        .where(col("__ma").isNotNull && col("__mb").isNotNull)
        .select(col("__ts"),
          (integralMetric(col("__ma"), lit("streamingPairedDelta: metric A")) -
            integralMetric(col("__mb"), lit("streamingPairedDelta: metric B"))).as("__d"))
        .groupBy(w)
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("__d") > 0, 1L).otherwise(0L)).as("a_wins"),
          sum(when(col("__d") < 0, 1L).otherwise(0L)).as("b_wins"),
          sum(when(col("__d") === 0, 1L).otherwise(0L)).as("ties"),
          sum(col("__d")).as("delta_sum"))
        .withColumn("mean_delta_milli",
          call_function("div", col("delta_sum") * 1000L, col("n_pairs")))
    }
  }

  /** The keyed-state step the event-time twins below share: on a
    * streaming input the `ts` column is watermarked and the state function
    * may arm event-time timeouts; on a batch input the same function runs
    * once per key with NoTimeout over the closed history — the
    * batch-identical-path convention of this file. `step` receives the
    * current watermark on streaming input and None on batch input (where
    * the engine has no watermark to read), so each twin picks its own
    * batch-mode value.
    */
  private def keyedState[T, K: Encoder, S: Encoder, U: Encoder](
      events: Dataset[T], watermark: String)(key: T => K)(
      step: (K, Iterator[T], GroupState[S], Option[Long]) => Iterator[U]): Dataset[U] = {
    // captured BEFORE the state function: a Dataset referenced inside the
    // closure ships with a null logical plan and NPEs on executors
    val isStream = events.isStreaming
    val src = if (isStream) events.withWatermark("ts", watermark) else events
    val timeout = if (isStream) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    src.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(
        (k: K, rows: Iterator[T], state: GroupState[S]) =>
          step(k, rows, state, if (isStream) Some(state.getCurrentWatermarkMs()) else None))
  }

  final case class RollEvent(key: String, ts: java.sql.Timestamp, value: Long)
  final case class RollBuf(entries: List[(Long, Long)])
  final case class RollOutput(key: String, ts: java.sql.Timestamp, value: Long,
      wsum: Long, w_n: Long)

  /** Streaming twin of [[graft.ops.Temporal.rolling]]: per event, the
    * trailing sum/count over the key's events in `[ts - windowMs, ts]`.
    * Keyed state holds only the (ts, value) pairs still inside the horizon
    * — entries older than `watermark − window` are pruned every batch, so
    * state is bounded by window span × per-key arrival rate, never stream
    * length.
    *
    * Semantics vs batch on closed history: identical for in-order input
    * (the equivalence law StreamingSpec asserts), including ties — rows
    * sharing a timestamp are processed as one group so each sees the full
    * peer set, matching the batch RANGE frame. Cross-batch LATE events
    * (within watermark) still emit their own correct trailing value but do
    * not retract rows already emitted — the standard append-mode contract;
    * use the batch operator for final-state backfills.
    */
  def streamingRolling(events: Dataset[RollEvent], windowMs: Long,
      watermark: String = "10 minutes"): Dataset[RollOutput] = {
    implicit val stateEnc = Encoders.product[RollBuf]
    implicit val outEnc = Encoders.product[RollOutput]
    implicit val keyEnc = Encoders.STRING
    keyedState(events, watermark)(_.key) {
      (key: String, rows: Iterator[RollEvent], state: GroupState[RollBuf], wm: Option[Long]) =>
        var buf = state.getOption.map(_.entries).getOrElse(Nil)
        val out = List.newBuilder[RollOutput]
        // ts-grouped ascending: equal-time rows are peers (RANGE-frame
        // tie semantics) — every member of a tie group sees the whole
        // group in its trailing sum
        rows.toSeq.groupBy(_.ts.getTime).toSeq.sortBy(_._1).foreach {
          case (t, group) =>
            buf = group.map(e => (t, e.value)).toList ::: buf
            val inWin = buf.filter { case (et, _) => et >= t - windowMs && et <= t }
            val s = inWin.map(_._2).sum
            val n = inWin.size.toLong
            group.foreach(e => out += RollOutput(key, e.ts, e.value, s, n))
        }
        // prune entries no future event (ts ≥ watermark) can reach
        // (batch mode / no watermark → 0 → nothing prunes, keep all)
        val horizon = wm.getOrElse(0L) - windowMs
        buf = buf.filter(_._1 >= horizon)
        state.update(RollBuf(buf))
        out.result().iterator
    }
  }

  /** Streaming twin of [[graft.ops.Temporal.intervalJoin]]: stream-stream
    * join of overlapping closed intervals (`ls <= re && rs <= le`, equal
    * keys) between two watermarked streams of TimestampType intervals.
    *
    * Structured Streaming requires the join condition to bound both
    * event-time columns, so `maxLength` (an upper bound on EITHER side's
    * interval length, e.g. "30 minutes") turns the overlap predicate into
    * the engine-bindable range `rs ∈ [ls − maxLength, ls + maxLength]`;
    * the exact overlap test runs as a residual filter. Intervals longer
    * than `maxLength` cannot be matched completely and are DROPPED on both
    * sides (explicit contract — widen maxLength to cover the tail; state
    * grows linearly with it). Right columns come back `prefix`ed, same
    * output shape as the batch operator.
    */
  def streamingIntervalJoin(left: DataFrame, leftStart: String, leftEnd: String,
      right: DataFrame, rightStart: String, rightEnd: String,
      keyCols: Seq[String], maxLength: String,
      watermark: String = "10 minutes", prefix: String = "r_"): DataFrame = {
    val iv = expr(s"INTERVAL $maxLength")
    val l = left
      .where(col(leftEnd) <= col(leftStart) + iv)
      .withWatermark(leftStart, watermark)
    val r = right
      .where(col(rightEnd) <= col(rightStart) + iv)
      .select(right.columns.map(c => col(c).as(prefix + c)).toSeq: _*)
      .withWatermark(prefix + rightStart, watermark)
    val keys = keyCols.map(k => l(k) === r(prefix + k))
    val range = Seq(
      col(prefix + rightStart) >= col(leftStart) - iv,
      col(prefix + rightStart) <= col(leftStart) + iv)
    val overlap = Seq(
      col(leftStart) <= col(prefix + rightEnd),
      col(prefix + rightStart) <= col(leftEnd))
    l.join(r, (keys ++ range ++ overlap).reduce(_ && _))
      .drop(keyCols.map(prefix + _): _*)
  }

  final case class AsofLeft(key: String, ts: java.sql.Timestamp, value: Long)
  final case class AsofRight(key: String, ts: java.sql.Timestamp, rvalue: Long)
  // NOT private: Spark's generated encoder projections access the class
  // from outside this object, so a private case class fails janino
  // compilation at runtime ("Private member cannot be accessed")
  final case class AsofEnv(key: String, ts: java.sql.Timestamp,
      side: Int, value: Long)
  final case class AsofState(rights: List[(Long, Long)],
      lefts: List[(Long, Long)])
  final case class AsofOut(key: String, ts: java.sql.Timestamp, value: Long,
      r_ts: Option[java.sql.Timestamp], r_value: Option[Long])

  /** Streaming twin of [[graft.ops.Temporal.asofJoin]] (backward
    * direction): for every left event, the latest right event with the
    * same key at or before it, optionally within `toleranceMs`.
    *
    * Correctness under out-of-order arrival is watermark-gated: a left
    * event is emitted only once the watermark passes its timestamp, when
    * no earlier-or-equal right event can still arrive — so emission lags
    * by the watermark delay, the standard append-mode contract.
    * An EventTimeTimeout on the earliest pending left wakes the key when
    * the watermark advances even if no further events arrive for it.
    *
    * State per key is bounded: pending lefts ≤ watermark-delay ×
    * arrival rate, and of the rights at or before the watermark only the
    * LATEST is retained — it dominates every older right for any future
    * left (later and closer), with or without tolerance. Ties (equal
    * right timestamps) resolve to the max payload, matching the batch
    * operator's deterministic max-struct tie-break. Lefts arriving later
    * than the watermark emit immediately with the best still-buffered
    * match (no retraction) — use the batch operator for final backfills.
    */
  def streamingAsof(left: Dataset[AsofLeft], right: Dataset[AsofRight],
      toleranceMs: Option[Long] = None,
      watermark: String = "10 minutes"): Dataset[AsofOut] = {
    // the union formulation requires both sides in the same mode (Spark
    // forbids streaming∪batch). For a streaming left against a STATIC
    // reference, snapshot-join the static side (stream-static join on
    // key + latest-<=-t aggregation has no engine shape) or use the
    // batch asofJoin per micro-batch in foreachBatch.
    require(left.isStreaming == right.isStreaming,
      "streamingAsof needs both sides streaming or both batch; for stream-vs-static, " +
        "apply Temporal.asofJoin inside foreachBatch")
    implicit val envEnc = Encoders.product[AsofEnv]
    implicit val stateEnc = Encoders.product[AsofState]
    implicit val outEnc = Encoders.product[AsofOut]
    implicit val keyEnc = Encoders.STRING
    val env = left.map(e => AsofEnv(e.key, e.ts, 1, e.value))
      .unionByName(right.map(e => AsofEnv(e.key, e.ts, 0, e.rvalue)))
    keyedState(env, watermark)(_.key) {
      (key: String, rows: Iterator[AsofEnv], state: GroupState[AsofState], wm: Option[Long]) =>
        var st = state.getOption.getOrElse(AsofState(Nil, Nil))
        rows.foreach { e =>
          val t = e.ts.getTime
          if (e.side == 0) st = st.copy(rights = (t, e.value) :: st.rights)
          else st = st.copy(lefts = (t, e.value) :: st.lefts)
        }
        // batch mode has no watermark: the history is closed, finalize all
        val cut = wm.getOrElse(Long.MaxValue)
        val (ready, pending) = st.lefts.partition(_._1 <= cut)
        val out = ready.sortBy(l => (l._1, l._2)).map { case (lt, lv) =>
          val cand = st.rights.filter { case (rt, _) =>
            rt <= lt && toleranceMs.forall(tol => lt - rt <= tol) }
          val m = if (cand.isEmpty) None else Some(cand.max) // (rt, value) max = latest, max-payload tie-break
          AsofOut(key, new java.sql.Timestamp(lt), lv,
            m.map(r => new java.sql.Timestamp(r._1)), m.map(_._2))
        }
        // among rights at or before the watermark only the latest can
        // ever match a future (post-watermark) left — drop the rest
        val (rNew, rOld) = st.rights.partition(_._1 > cut)
        val keep = rNew ::: (if (rOld.isEmpty) Nil else List(rOld.max))
        state.update(AsofState(keep, pending))
        if (pending.nonEmpty) {
          // only a streaming watermark leaves lefts pending: wake this key
          // when the watermark reaches the earliest one (timeout
          // timestamps must sit strictly past the watermark)
          state.setTimeoutTimestamp(math.max(pending.map(_._1).min, cut + 1))
        }
        out.iterator
    }
  }

  final case class KeyedEvent(key: String, ts: java.sql.Timestamp, value: Double)
  final case class RunningState(n: Long, total: Double)
  final case class RunningOutput(key: String, n: Long, total: Double)

  /** Custom keyed state: running per-key totals with processing-time
    * timeout — the mapGroupsWithState tier for semantics windows can't
    * express (reference delegates this class of processing to Spark).
    */
  def runningTotals(events: Dataset[KeyedEvent]): Dataset[RunningOutput] = {
    implicit val stateEnc = Encoders.product[RunningState]
    implicit val outEnc = Encoders.product[RunningOutput]
    implicit val keyEnc = Encoders.STRING
    // NoTimeout: a processing-time timeout would keep the engine scheduling
    // timeout-evaluation batches, which blocks processAllAvailable-style
    // synchronization in tests; production state expiry belongs to a
    // watermark (EventTimeTimeout) tied to the data, not wall clock.
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[KeyedEvent], state: GroupState[RunningState]) => {
          val prev = state.getOption.getOrElse(RunningState(0, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { e => n += 1; total += e.value }
          state.update(RunningState(n, total))
          Iterator(RunningOutput(key, n, total))
        })
  }

  final case class GridEvent(key: String, ts: java.sql.Timestamp, value: Long)
  final case class GridBuf(
      started: Boolean,
      emitted: Boolean, // once true, nextTick is an emission frontier
      nextTick: Long, // first unemitted grid tick (ms)
      last: Long, // LOCF carry (valid once emitted)
      maxTick: Long, // largest bucket ever observed
      open: Map[Long, (Long, Long, Long)]) // tick -> (bestTsMs, bestVal, n)
  final case class GridOut(key: String, tick: Long, value: Long, n_obs: Long)

  /** Streaming twin of [[graft.ops.Temporal.resample]]: per key, emit one
    * (tick, value, n_obs) row per `gridStepMs` bucket with
    * last-observation-carried-forward over gaps, as the WATERMARK closes
    * each bucket — the live form of irregular-telemetry → fixed-step
    * series. A bucket emits when `tick + gridStepMs <= watermark`; gap
    * ticks between observations emit via event-time timeouts re-armed at
    * each next bucket boundary, so an idle key still produces its carried
    * ticks as the watermark advances. Same per-bucket representative rule
    * as batch (lexicographic (ts, value) max); rows later than an
    * already-emitted bucket are DROPPED (append mode cannot retract) —
    * size the watermark to the lateness you must absorb.
    *
    * On a batch frame the same code runs with NoTimeout and a closed
    * horizon (everything emits through the last observed bucket), which
    * is the law-tested equality with the batch operator. State per key:
    * the LOCF carry plus only the OPEN (un-closed) buckets.
    */
  def streamingResample(events: Dataset[GridEvent], gridStepMs: Long,
      watermark: String = "10 minutes"): Dataset[GridOut] = {
    require(gridStepMs > 0, "gridStepMs must be positive")
    implicit val stateEnc = Encoders.product[GridBuf]
    implicit val outEnc = Encoders.product[GridOut]
    implicit val keyEnc = Encoders.STRING
    keyedState(events, watermark)(_.key) {
      (key: String, rows: Iterator[GridEvent], state: GroupState[GridBuf], wm: Option[Long]) =>
        val step = gridStepMs
        var buf = state.getOption.getOrElse(
          GridBuf(started = false, emitted = false, 0L, 0L, Long.MinValue, Map.empty))
        // merge incoming rows into open buckets; a row whose bucket is
        // behind the EMISSION frontier is late beyond repair → dropped
        rows.foreach { e =>
          val t = e.ts.getTime
          val tick = Math.floorDiv(t, step) * step
          val lateBeyondEmit = buf.emitted && tick < buf.nextTick
          if (!lateBeyondEmit) {
            val cur = buf.open.get(tick)
            val keepNew = cur.forall { case (bt, bv, _) =>
              t > bt || (t == bt && e.value > bv) }
            val rep = if (keepNew) (t, e.value) else (cur.get._1, cur.get._2)
            buf = buf.copy(
              started = true,
              // before any emission the grid start follows the earliest
              // observed bucket (out-of-order-safe); after, it is pinned
              nextTick = if (!buf.started) tick
                else if (!buf.emitted) math.min(buf.nextTick, tick)
                else buf.nextTick,
              maxTick = math.max(buf.maxTick, tick),
              open = buf.open + (tick -> ((rep._1, rep._2, cur.map(_._3).getOrElse(0L) + 1L))))
          }
        }
        val out = List.newBuilder[GridOut]
        if (buf.started) {
          // a bucket closes once tick + step <= wm (batch: every bucket
          // closes); like the batch operator the grid never extends past
          // the key's own last observed bucket
          val horizon = math.min(wm.fold(Long.MaxValue)(_ - step), buf.maxTick)
          var t = buf.nextTick
          var last = buf.last
          while (t <= horizon) {
            val obs = buf.open.get(t)
            obs.foreach { case (_, v, _) => last = v }
            out += GridOut(key, t, last, obs.map(_._3).getOrElse(0L))
            buf = buf.copy(emitted = true, nextTick = t + step, last = last,
              open = buf.open - t)
            t += step
          }
        }
        if (wm.isDefined && buf.started && buf.nextTick <= buf.maxTick)
          // pending ticks: re-arm so gap ticks emit as the watermark moves
          state.setTimeoutTimestamp(buf.nextTick + step)
        state.update(buf)
        out.result().iterator
    }
  }

  final case class JourneyEvent(key: String, ts: java.sql.Timestamp, id: Long, typ: String)
  final case class JourneyBuf(entries: List[(Long, Long, String)], matched: Boolean)
  final case class JourneyHit(key: String, journey: String)

  /** Streaming twin of [[graft.ops.Temporal.journeyMatch]], DETECTION
    * form: per key, maintain the (ts, id)-sorted event-type journey in
    * keyed state and emit ONE hit row the first time the journey matches
    * `pattern` — fire-on-match CEP, where the batch twin's one-row-per-key
    * final answer becomes "alert the moment the sequence completes".
    *
    * Semantics under lateness: each batch merges its rows into the
    * retained buffer and re-sorts by (ts, id), so a within-watermark late
    * event lands at its correct journey position BEFORE matching is
    * evaluated — an out-of-order `click` arriving after its `purchase`
    * still completes `click>purchase`. Once a key fires it never fires
    * again (matched flag); append-mode cannot retract a hit. State: the
    * per-key journey plus one flag; event-time timeout clears idle keys
    * at the watermark (batch inputs run the same code with NoTimeout —
    * the batch-identical-path convention of this file).
    */
  def streamingJourneyMatch(events: Dataset[JourneyEvent], pattern: String,
      sep: String = ">", watermark: String = "10 minutes",
      idleGapMs: Long = 1800000L): Dataset[JourneyHit] = {
    implicit val stateEnc = Encoders.product[JourneyBuf]
    implicit val outEnc = Encoders.product[JourneyHit]
    implicit val keyEnc = Encoders.STRING
    val re = pattern.r
    val gapMs = idleGapMs
    keyedState(events, watermark)(_.key) {
      (key: String, rows: Iterator[JourneyEvent], state: GroupState[JourneyBuf], wm: Option[Long]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val prev = state.getOption.getOrElse(JourneyBuf(Nil, matched = false))
          if (prev.matched) { rows.foreach(_ => ()); Iterator.empty }
          else {
            val merged = (prev.entries ++
              rows.map(e => (e.ts.getTime, e.id, e.typ))).sortBy(t => (t._1, t._2))
            val journey = merged.map(_._3).mkString(sep)
            val hit = re.findFirstIn(journey).isDefined
            wm.foreach { w =>
              val last = merged.lastOption.map(_._1).getOrElse(w)
              state.setTimeoutTimestamp(math.max(last, w + 1) + gapMs)
            }
            state.update(JourneyBuf(if (hit) Nil else merged, matched = hit))
            if (hit) Iterator(JourneyHit(key, journey)) else Iterator.empty
          }
        }
    }
  }

  final case class TrendEvent(ts: java.sql.Timestamp, item: String)
  final case class TrendBuf(counts: Map[String, Long])
  final case class TrendOut(window_start: Long, item: String, cnt: Long, rank: Long)

  /** Streaming twin of [[graft.ops.Temporal.trendingTopK]]: per tumbling
    * `windowMs` window, emit the top-`k` items by count ONCE, when the
    * watermark closes the window — the "what spiked this hour" alert
    * feed, where the batch form is the backfill. Ranking needs the whole
    * window (an item's final rank depends on every other item's count),
    * so emission is inherently at-window-close; the state is one count
    * map per open window, keyed BY window start — counts merge
    * commutatively across micro-batches and partitions, and the same tie
    * rule as batch (count desc, then item asc) pins the emitted ranks.
    *
    * State bound: open windows × distinct items per window. That is the
    * EXACT top-k contract's floor (rank needs every candidate's count);
    * for unbounded item domains cap the alert stream's vocabulary
    * upstream or use [[graft.ops.Profile.heavyHitters]]' sketch tier —
    * same trade the exact/sketch profile pair documents. Batch inputs run
    * the identical code path with no timeout and emit directly
    * (batch-identical-path convention; `window_start` is epoch MILLIS
    * here — the batch operator inherits whatever unit its time column
    * uses).
    */
  def streamingTrending(events: Dataset[TrendEvent], windowMs: Long, k: Int,
      watermark: String = "10 minutes"): Dataset[TrendOut] = {
    require(windowMs > 0 && k >= 1, "need windowMs > 0 and k >= 1")
    implicit val stateEnc = Encoders.product[TrendBuf]
    implicit val outEnc = Encoders.product[TrendOut]
    implicit val keyEnc = Encoders.scalaLong
    def topK(ws: Long, counts: Map[String, Long]): Iterator[TrendOut] =
      counts.toSeq.sortBy { case (item, c) => (-c, item) }.take(k)
        .zipWithIndex.map { case ((item, c), i) => TrendOut(ws, item, c, i + 1L) }
        .iterator
    keyedState(events, watermark)(e => Math.floorDiv(e.ts.getTime, windowMs) * windowMs) {
      (ws: Long, rows: Iterator[TrendEvent], state: GroupState[TrendBuf], wm: Option[Long]) =>
        if (state.hasTimedOut) {
          // watermark passed window end: the window is final — rank & emit
          val counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
          state.remove()
          topK(ws, counts)
        } else {
          var counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
          rows.foreach { e =>
            counts = counts.updated(e.item, counts.getOrElse(e.item, 0L) + 1L)
          }
          wm match {
            case None => topK(ws, counts)
            case Some(w) if ws + windowMs <= w =>
              // window already closed when its first data arrived in this
              // batch (watermark advanced within the same trigger) — emit
              // now; later rows are watermark-dropped, so no double emit
              state.remove()
              topK(ws, counts)
            case Some(_) =>
              state.update(TrendBuf(counts))
              state.setTimeoutTimestamp(ws + windowMs)
              Iterator.empty
          }
        }
    }
  }
}
