package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.exact.scaled
import graft.functions.text.wordsOf

/** Corpus profiling: the per-group statistics a curation run consults before
  * choosing thresholds (how many docs / tokens per language, vocabulary
  * breadth, document-length quantiles, dominant tokens).
  *
  * Two tiers, same numbers:
  *   - [[groupProfile]] — EXACT. Distinct-token counts shuffle the exploded
  *     token stream and quantiles rank every document, so this is the
  *     oracle tier (`ns_profile`): every value is reproducible in plain SQL.
  *   - [[groupProfileSketch]] — one-pass mergeable sketches: HyperLogLog++
  *     (`approx_count_distinct`) for vocabulary breadth and a GK sketch
  *     (`percentile_approx`) for length quantiles. Both aggregate partially
  *     map-side, so the exchange carries one sketch row per (partition,
  *     group) — a few KB per group — never tokens. At 100 TB this is the
  *     only affordable tier: the exact tier's token shuffle is
  *     O(corpus tokens) while the sketch tier's is O(groups × partitions).
  *     ProfileSpec pins the sketch within rsd-scale error of the exact tier;
  *     PlanSpec asserts the partial-aggregate shape.
  *
  * Quantile convention: nearest-rank (value at row `ceil(p · n)`, 1-indexed,
  * ascending) — an explicit formula both engines replay bit-for-bit, rather
  * than engine-specific interpolation semantics.
  *
  * No counterpart in the reference engine; north-star operator.
  */
object Profile {

  /** Shared by both tiers so exact and sketch fail identically on bad
    * input: quantiles in (0, 1] and no two rounding to the same column name.
    */
  private def quantileNames(quantiles: Seq[Double]): Seq[String] = {
    require(quantiles.nonEmpty && quantiles.forall(p => p > 0 && p <= 1),
      "quantiles must be in (0, 1]")
    val names = quantiles.map(p => s"p${(p * 100).round}_tokens")
    require(names.distinct.size == names.size,
      s"quantile column names collide: $names — space the quantiles at least 0.01 apart")
    names
  }

  /** Exact per-group corpus profile: document count, total/distinct token
    * counts and nearest-rank token-count quantiles. One row per group:
    * `(groupCol, n_docs, total_tokens, distinct_tokens, p<q>_tokens...)`.
    *
    * Shuffle shape: tokens exchange once keyed by (group, token) with a
    * map-side partial distinct, the ranking exchange carries one long per
    * document. Use [[groupProfileSketch]] when the token stream itself is
    * the bottleneck.
    */
  def groupProfile(docs: DataFrame, textCol: String, groupCol: String,
      quantiles: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val qNames = quantileNames(quantiles)
    val perDoc = docs.select(col(groupCol).as("__g"), wordsOf(col(textCol)).as("__t"))
      .select(col("__g"), col("__t"), size(col("__t")).cast("long").as("__n"))

    val base = perDoc.groupBy("__g").agg(
      count(lit(1)).as("n_docs"),
      sum("__n").as("total_tokens"))

    val distinctToks = perDoc
      .select(col("__g"), explode(col("__t")).as("__tok"))
      .groupBy("__g").agg(countDistinct("__tok").as("distinct_tokens"))

    // Nearest-rank quantiles: rank docs per group by token count; the
    // p-quantile is the count at rank ceil(p·n). Ties share the value, so
    // row_number's order among equal counts cannot change the result.
    val ranked = perDoc.select(col("__g"), col("__n"))
      .withColumn("__rn",
        row_number().over(Window.partitionBy("__g").orderBy("__n")).cast("long"))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy("__g")))
    val qAggs = quantiles.zip(qNames).map { case (p, name) =>
      max(when(col("__rn") === ceil(lit(p) * col("__cnt")), col("__n"))).as(name)
    }
    val qdf = ranked.groupBy("__g").agg(qAggs.head, qAggs.tail: _*)

    base.join(distinctToks, "__g").join(qdf, "__g")
      .withColumnRenamed("__g", groupCol)
  }

  /** Release-over-release profile drift: [[groupProfile]] on two corpus
    * snapshots, full-outer joined per group and unpivoted to one row per
    * (group, metric) with both values, the integer delta, and the change
    * in permille of the old value (`(v_b − v_a) × 1000 div max(v_a, 1)`).
    * Groups that appeared or vanished between snapshots surface as drift
    * rows against zero rather than disappearing — the regression-audit
    * contract. All-integer output diffs cleanly across releases and
    * engines (`ns_profile_drift` replays it in DuckDB); feed alongside
    * [[tokenDrift]]: this answers "did the shape move", tokenDrift
    * answers "which content moved it".
    *
    * Scale: two groupProfile passes (each one token-granular exchange +
    * one ranking exchange) and a #groups-sized join; the unpivot is a
    * narrow explode of metric structs.
    */
  def profileDrift(a: DataFrame, b: DataFrame, textCol: String, groupCol: String,
      quantiles: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val metrics = Seq("n_docs", "total_tokens", "distinct_tokens") ++ quantileNames(quantiles)
    val pa = groupProfile(a, textCol, groupCol, quantiles)
      .select(col(groupCol).as("__g") +: metrics.map(m => col(m).as(s"a_$m")): _*)
    val pb = groupProfile(b, textCol, groupCol, quantiles)
      .select(col(groupCol).as("__g") +: metrics.map(m => col(m).as(s"b_$m")): _*)
    val rows = metrics.map { m =>
      struct(lit(m).as("metric"),
        coalesce(col(s"a_$m"), lit(0L)).as("v_a"),
        coalesce(col(s"b_$m"), lit(0L)).as("v_b"))
    }
    pa.join(pb, Seq("__g"), "full")
      .select(col("__g").as(groupCol), explode(array(rows: _*)).as("__m"))
      .select(col(groupCol), col("__m.metric").as("metric"),
        col("__m.v_a").as("v_a"), col("__m.v_b").as("v_b"))
      .withColumn("delta", col("v_b") - col("v_a"))
      .withColumn("delta_permille",
        call_function("div", (col("v_b") - col("v_a")) * lit(1000L),
          greatest(col("v_a"), lit(1L))))
  }

  /** Sketch-tier profile: identical shape to [[groupProfile]] but
    * vocabulary breadth via HyperLogLog++ (relative sd `rsd`) and quantiles
    * via `percentile_approx` (GK, `accuracy` controls error). Every
    * aggregate is mergeable, so the plan is scan → partial agg →
    * one #groups-row exchange → final agg: no token ever shuffles.
    */
  def groupProfileSketch(docs: DataFrame, textCol: String, groupCol: String,
      quantiles: Seq[Double] = Seq(0.5, 0.9), rsd: Double = 0.05,
      accuracy: Int = 10000): DataFrame = {
    val qNames = quantileNames(quantiles)
    val perDoc = docs.select(col(groupCol).as("__g"), wordsOf(col(textCol)).as("__t"))
      .select(col("__g"), col("__t"), size(col("__t")).cast("long").as("__n"))

    val distinctSketch = perDoc
      .select(col("__g"), explode(col("__t")).as("__tok"))
      .groupBy("__g")
      .agg(approx_count_distinct(col("__tok"), rsd).as("distinct_tokens"))

    val qAggs = quantiles.zip(qNames).map { case (p, name) =>
      percentile_approx(col("__n"), lit(p), lit(accuracy)).as(name)
    }
    val stats = perDoc.groupBy("__g").agg(
      count(lit(1)).as("n_docs"),
      sum("__n").as("total_tokens") +: qAggs: _*)

    stats.join(distinctSketch, "__g").withColumnRenamed("__g", groupCol)
      .select(groupCol,
        ("n_docs" +: "total_tokens" +: "distinct_tokens" +: qNames): _*)
  }

  /** One-call dataset card: the per-group summary a dataset release ships
    * with — document/token/char counts, vocabulary breadth, length
    * quantiles, the EXACT duplicate rate (distinct content digests), and,
    * when the caller provides a boolean `keepCol` (e.g. from
    * `Curation.qualityFilter`), the quality keep rate. Pure composition of
    * the profile tiers plus one digest aggregation, one row per group; all
    * rates are integer per-mille so the card replays bit-for-bit across
    * engines.
    *
    * `exact = true` is the audit/oracle tier (distinct tokens + digests
    * shuffle); `exact = false` swaps both distinct counts to mergeable
    * HLL++ sketches and the quantiles to GK — the 100 TB tier, where the
    * exchange carries one sketch row per (partition, group). Rows with a
    * NULL group column drop out of the card (the profile legs join on the
    * group key) — normalize nulls upstream if they must be reported.
    */
  def datasetCard(docs: DataFrame, textCol: String, groupCol: String,
      keepCol: Option[String] = None, quantiles: Seq[Double] = Seq(0.5, 0.9),
      exact: Boolean = true, rsd: Double = 0.05): DataFrame = {
    val prof =
      if (exact) groupProfile(docs, textCol, groupCol, quantiles)
      else groupProfileSketch(docs, textCol, groupCol, quantiles, rsd)
    val dig = md5(col(textCol))
    val distinctDocs: Column =
      if (exact) countDistinct(dig) else approx_count_distinct(dig, rsd)
    val keepAgg: Column = keepCol
      .map(k => sum(when(col(k), 1L).otherwise(0L)))
      .getOrElse(lit(null).cast("long"))
    val extra = docs.groupBy(col(groupCol).as("__g")).agg(
        count(lit(1)).as("__nd"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        distinctDocs.as("n_distinct_docs"),
        keepAgg.as("n_kept"))
      .select(col("__g"), col("n_chars"), col("n_distinct_docs"),
        call_function("div",
          lit(1000L) * (col("__nd") - col("n_distinct_docs")), col("__nd"))
          .as("dup_permille"),
        col("n_kept"),
        keepCol.map(_ =>
            call_function("div", lit(1000L) * col("n_kept"), col("__nd")))
          .getOrElse(lit(null).cast("long")).as("keep_permille"))
    prof.join(extra.withColumnRenamed("__g", groupCol), Seq(groupCol))
  }

  /** Per-group token-length histogram on power-of-two buckets
    * (`bucket = floor(log2(n_tokens))`, computed as binary-digit count —
    * pure integer, no FP log at bucket boundaries, engine-portable).
    * One row per (group, bucket): doc count, token total, exact
    * min/max. The input to context-window/packing decisions ("how much
    * of lang X is shorter than 2^k tokens?") and length-curriculum
    * schedules; scan → partial agg → a (groups × ~20)-row exchange.
    */
  def lengthHistogram(docs: DataFrame, textCol: String, groupCol: String): DataFrame =
    docs.select(col(groupCol),
        size(wordsOf(col(textCol))).cast("long").as("__n"))
      .withColumn("bucket", (length(bin(col("__n"))) - 1).cast("int"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum("__n").as("total_tokens"),
        min("__n").as("min_tokens"),
        max("__n").as("max_tokens"))

  /** Per-group distinctive terms: top-`k` tokens by an integer
    * contrastive tf-idf — `score = tf_group * 1_000_000 div df_corpus`
    * (fixed-point division, so the ranking replays exactly in any engine;
    * the FP `log` of textbook idf does not cross engines bit-for-bit).
    * High scores = frequent in the group, rare corpus-wide — the "what is
    * this domain about" table used for mixture labeling and domain cards.
    * One row per kept token: `(groupCol, tok, tf, df, score, rank)`;
    * deterministic ties (score desc, token asc).
    *
    * Scale shape: two partial-aggregated token rollups (group-tf and
    * distinct-doc df) joined on token — exchanges carry vocabulary-sized
    * aggregates, never documents; the rank window sorts per-group
    * vocabularies only.
    */
  def distinctiveTerms(docs: DataFrame, textCol: String, groupCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = docs
      .select(col(groupCol).as("__g"), explode(wordsOf(col(textCol))).as("tok"))
      .groupBy("__g", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = docs
      .select(col(idCol).as("__id"), explode(array_distinct(wordsOf(col(textCol)))).as("tok"))
      .distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "tok")
      .withColumn("score", call_function("div", col("tf") * lit(1000000L), col("df")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("__g").orderBy(col("score").desc, col("tok"))).cast("int"))
      .where(col("rank") <= k)
      .select(col("__g").as(groupCol), col("tok"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Token-distribution drift between two corpus snapshots: the "what
    * changed in the data mix" check that catches silent upstream shifts
    * (a crawler picking up a new spam cluster, a source going stale)
    * BEFORE a training run does. Per-token: counts in each snapshot,
    * integer micro-frequencies (`cnt * 1e6 div total`), and an integer
    * chi-square-style divergence contribution
    * `(freqA - freqB)^2 div (freqA + freqB)` — every step is integer
    * multiply/divide, so ranking AND values replay exactly in any engine
    * (the FP logs of textbook KL do not). Returns the top-`k` movers:
    * `(tok, cnt_a, cnt_b, freq_a, freq_b, contrib, rank)`; ties rank by
    * token ascending. Tokens absent from a side count 0 (full-outer).
    *
    * No overflow by construction: micro-frequencies are ≤ 1e6, so
    * `diff² ≤ 1e12` and `cnt * 1e6` holds to 9e12-token snapshots.
    *
    * Scale shape: two partial-aggregated token rollups (the same
    * vocabulary-sized exchange as [[heavyHitters]]), scalar totals
    * broadcast via a 1-row cross join (never collected), one
    * vocabulary-sized full-outer join, one vocabulary-sized rank window.
    * Documents never enter an exchange.
    */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    def counts(df: DataFrame, cntName: String) =
      df.select(explode(wordsOf(col(textCol))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as(cntName))
    val ca = counts(a, "cnt_a")
    val cb = counts(b, "cnt_b")
    val joined = ca.join(cb, Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val totals = joined.agg(
      greatest(sum("cnt_a"), lit(1L)).as("__ta"),
      greatest(sum("cnt_b"), lit(1L)).as("__tb"))
    val fa = call_function("div", col("cnt_a") * 1000000L, col("__ta"))
    val fb = call_function("div", col("cnt_b") * 1000000L, col("__tb"))
    joined.crossJoin(broadcast(totals))
      .withColumn("freq_a", fa)
      .withColumn("freq_b", fb)
      .withColumn("contrib",
        when(col("freq_a") + col("freq_b") === 0L, lit(0L))
          .otherwise(call_function("div",
            (col("freq_a") - col("freq_b")) * (col("freq_a") - col("freq_b")),
            col("freq_a") + col("freq_b"))))
      // distributed heap top-K (TakeOrderedAndProject), NOT a global
      // window over the whole vocabulary; the rank window then sees only
      // k rows (same shape as TextAnalysis.vocabulary)
      .orderBy(col("contrib").desc, col("tok"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("contrib").desc, col("tok"))).cast("int"))
      .select("tok", "cnt_a", "cnt_b", "freq_a", "freq_b", "contrib", "rank")
  }

  /** Exact per-group heavy hitters: top-`k` tokens by frequency,
    * deterministic ties (count desc, token asc). One row per kept token:
    * `(groupCol, tok, cnt, rank)`.
    *
    * Scale shape: the token explode partially aggregates map-side, so the
    * exchange carries (group, token, partial count) — bounded by vocabulary
    * size per partition, not corpus tokens; the rank window then sorts the
    * per-group VOCABULARY (not documents), which is the small side.
    */
  def heavyHitters(docs: DataFrame, textCol: String, groupCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val counts = docs
      .select(col(groupCol).as("__g"), explode(wordsOf(col(textCol))).as("tok"))
      .groupBy("__g", "tok").agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("__g").orderBy(col("cnt").desc, col("tok"))).cast("long"))
      .where(col("rank") <= k)
      .withColumnRenamed("__g", groupCol)
  }

  /** Robust per-group outlier detection on an integer metric: median/MAD
    * (median absolute deviation) instead of mean/stddev, so the
    * thresholds themselves cannot be dragged by the outliers they hunt —
    * the standard telemetry/quality-score anomaly screen (spend spikes,
    * quality-score collapse, length anomalies). A row is an outlier when
    * `|x − med| · 1000 > kPermille · MAD` (kPermille = 3500 ≈ the usual
    * 3.5-MAD rule), all integer arithmetic on an integer `valueCol`
    * (cents, micro-units), so verdicts replay exactly cross-engine.
    *
    * Medians use the repo's nearest-rank convention (value at rank
    * `ceil(n/2)` ascending — ties share the value, so tie order cannot
    * change it). MAD = 0 (over half the group identical) flags EVERY
    * deviating row — the inherent MAD degenerate case; pre-filter such
    * groups via [[analyzeColumns]] distinct counts if that bites.
    *
    * Scale shape: two rank windows keyed by group (value ranks, then
    * deviation ranks) and broadcast-sized per-group stat rows joined
    * back; output is the OUTLIERS, not the corpus.
    * Output: groupCols + (idCol, valueCol, med, mad, dev).
    */
  def robustOutliers(df: DataFrame, valueCol: String, idCol: String,
      groupCols: Seq[String], kPermille: Long = 3500L): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty (a global window would single-partition)")
    require(kPermille >= 0, "kPermille must be >= 0")
    val gc = groupCols.map(col)
    def medianOf(in: DataFrame, c: String, out: String): DataFrame = {
      val w = Window.partitionBy(gc: _*).orderBy(col(c))
      in.withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(gc: _*)))
        .groupBy(gc: _*)
        .agg(max(when(col("__rn") === ceil(col("__cnt") / 2), col(c))).as(out))
    }
    val med = medianOf(df, valueCol, "med")
    val withMed = df.join(med, groupCols)
      .withColumn("dev", abs(col(valueCol) - col("med")))
    val mad = medianOf(withMed, "dev", "mad")
    withMed.join(mad, groupCols)
      .where(col("dev") * 1000L > lit(kPermille) * col("mad"))
      .select(gc ++ Seq(col(idCol), col(valueCol), col("med"), col("mad"), col("dev")): _*)
  }

  /** Pairwise Pearson correlation over integer metric columns, ONE scan:
    * co-moments accumulate as exact DECIMAL(38,0) sums (order-independent
    * — a double-sum correlation depends on reduction order and drifts
    * across partitionings), and the final
    * `corr_permille = round-half-away(1000·num / √(dx·dy))` with
    * num = n·Sxy − Sx·Sy, dx = n·Sx2 − Sx², dy likewise is INTEGER-EXACT
    * via [[graft.functions.text.CorrPermilleExpr]] (BigInteger isqrt
    * identity — see its scaladoc): no IEEE operation anywhere in the
    * operator, so the result is independent of engine, platform, and
    * reduction order. Inputs must already be integers (cents, micro-units
    * — same convention as every scoring op here); constant columns
    * (dx or dy = 0) yield NULL correlation. Magnitude budget: n·S2 must
    * fit DECIMAL(38,0) (e.g. 10¹² rows of 10¹³-unit values); the
    * expression's internals are arbitrary-precision beyond that.
    *
    * One aggregation job: k per-column sums + k squares + C(k,2) cross
    * sums in a single partial-agg pass; the matrix then unpivots from
    * the one wide row. Output per unordered pair (colX < colY by
    * position): (col_x, col_y, n, corr_permille) plus the exact decimal
    * co-moments for downstream reuse. NOTE (contract surface): DECIMAL
    * output columns hash-compare unreliably across engine paths in
    * generic harnesses — contract queries over this operator cast the
    * co-moments to STRING (exact: scale-0 decimal → plain integer text in
    * both Spark and DuckDB); the operator API keeps decimals.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    def d(c: String): Column = col(c).cast("decimal(19,0)")
    val aggs =
      Seq(count(lit(1)).as("__n")) ++
      cols.map(c => sum(d(c)).as(s"__s_$c")) ++
      cols.map(c => sum(d(c) * d(c)).as(s"__q_$c")) ++
      (for { i <- cols.indices; j <- cols.indices if i < j }
        yield sum(d(cols(i)) * d(cols(j))).as(s"__x_${cols(i)}__${cols(j)}"))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val pairRows = for { i <- cols.indices; j <- cols.indices if i < j } yield {
      val (a, b) = (cols(i), cols(j))
      // pin every moment to decimal(38,0) so the parquet schema matches
      // the oracle's declared type exactly (dtype-stable hash compare)
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        col("__n").as("n"),
        col(s"__s_$a").cast("decimal(38,0)").as("sum_x"),
        col(s"__s_$b").cast("decimal(38,0)").as("sum_y"),
        col(s"__q_$a").cast("decimal(38,0)").as("sum_x2"),
        col(s"__q_$b").cast("decimal(38,0)").as("sum_y2"),
        col(s"__x_${a}__$b").cast("decimal(38,0)").as("sum_xy"))
    }
    val base = wide.select(explode(array(pairRows: _*)).as("p")).select(col("p.*"))
    val n = col("n").cast("decimal(38,0)")
    val num = n * col("sum_xy") - col("sum_x") * col("sum_y")
    val dx = n * col("sum_x2") - col("sum_x") * col("sum_x")
    val dy = n * col("sum_y2") - col("sum_y") * col("sum_y")
    base.withColumn("corr_permille", graft.functions.text.corrPermille(num, dx, dy))
  }

  /** ANALYZE-style column statistics for any table, one pass: per column a
    * long-format row set (col_name, metric, value) with EVERY value a
    * BIGINT so the whole profile replays bit-for-bit in any engine — the
    * pre-flight check before choosing join keys, partition columns, or
    * dedup digests on an unfamiliar 100 TB table.
    *
    * Metrics per column (value mapping by type):
    *   - `n_null` — NULL count; `n_distinct` — distinct non-null count.
    *   - `min_v` / `max_v` — integrals: the value; strings: min/max CHAR
    *     LENGTH (value ordering of strings is collation-dependent and so
    *     not portable; length is); double/float: floor(value * 1e6)
    *     micro-units (floor commutes with min/max — monotone — and a
    *     single IEEE multiply+floor replays exactly); timestamps: epoch
    *     micros; dates: days since epoch; booleans: 0/1.
    *     Complex/binary columns emit no min/max rows.
    *   - `len_total` — string columns only: total char length.
    *
    * Scale shape: ONE aggregation job over the scan. The exact tier's
    * multi-column distinct counts plan as a single-scan Expand (rows ×
    * distinct-aggs map-side — the standard plan, still one pass over the
    * files); `exact = false` swaps every distinct to a mergeable HLL++
    * sketch, collapsing the Expand — the exchange is then ONE partial row
    * per partition, the 100 TB tier. All-NULL columns yield NULL min/max
    * values (the driver-facing convention; n_null still counts them).
    */
  def analyzeColumns(df: DataFrame, cols: Seq[String] = Seq.empty,
      exact: Boolean = true, rsd: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.types._
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    def nd(c: String): Column =
      if (exact) countDistinct(col(c)) else approx_count_distinct(col(c), rsd)
    // (min_v, max_v, len_total) per the portable mapping; None = no row
    def ranges(c: String): Option[(Column, Column)] = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some((min(col(c)).cast("long"), max(col(c)).cast("long")))
      case StringType =>
        Some((min(length(col(c))).cast("long"), max(length(col(c))).cast("long")))
      case DoubleType | FloatType =>
        Some((floor(min(col(c)) * lit(1e6)).cast("long"),
          floor(max(col(c)) * lit(1e6)).cast("long")))
      case TimestampType => Some((unix_micros(min(col(c))), unix_micros(max(col(c)))))
      case DateType => Some((unix_date(min(col(c))).cast("long"), unix_date(max(col(c))).cast("long")))
      case BooleanType => Some((min(col(c).cast("long")), max(col(c).cast("long"))))
      case _ => None
    }
    val aggs = names.flatMap { c =>
      val base = Seq(
        count(when(col(c).isNull, 1)).as(s"__${c}__n_null"),
        nd(c).as(s"__${c}__n_distinct"))
      val rng = ranges(c).toSeq.flatMap { case (lo, hi) =>
        Seq(lo.as(s"__${c}__min_v"), hi.as(s"__${c}__max_v")) }
      val len = df.schema(c).dataType match {
        case StringType => Seq(sum(length(col(c)).cast("long")).as(s"__${c}__len_total"))
        case _ => Seq.empty
      }
      base ++ rng ++ len
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = names.flatMap { c =>
      val metrics = Seq("n_null", "n_distinct") ++
        (if (ranges(c).isDefined) Seq("min_v", "max_v") else Seq.empty) ++
        (df.schema(c).dataType match {
          case StringType => Seq("len_total"); case _ => Seq.empty
        })
      metrics.map(m => struct(lit(c).as("col_name"), lit(m).as("metric"),
        col(s"__${c}__$m").as("value")))
    }
    wide.select(explode(array(entries: _*)).as("e"))
      .select(col("e.col_name"), col("e.metric"), col("e.value"))
  }

  /** Functional-dependency discovery over candidate column pairs: for
    * every ordered pair (lhs → rhs) of `cols`, does each lhs value map to
    * exactly one rhs value? The schema-inference primitive behind key
    * detection ("is doc_id unique per shard?"), denormalization audits
    * ("does zip really determine city in THIS extract?"), and join-safety
    * checks before a dimension is broadcast as a lookup.
    *
    * Exact, two partial aggregates per pair: distinct (lhs, rhs) combos,
    * then per-lhs distinct-rhs counts — the exchange carries combos, never
    * rows. Pairs evaluate independently (one union of per-pair plans;
    * candidate sets are a handful of columns, and each pair's plan prunes
    * its scan to two columns). NULLs: a NULL lhs is one group, a NULL rhs
    * one value — same convention as the governance audits.
    *
    * Output per pair: (lhs, rhs, n_groups, violating_groups, holds) —
    * `violating_groups` = lhs values mapping to >= 2 rhs values.
    */
  def functionalDependencies(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.distinct.size == cols.size, "candidate columns must be distinct")
    require(cols.size >= 2, "need at least two candidate columns")
    val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
    pairs.map { case (a, b) =>
      df.select(col(a).as("__l"), col(b).as("__r")).distinct()
        .groupBy(col("__l")).agg(count(lit(1)).as("__nr"))
        .agg(lit(a).as("lhs"), lit(b).as("rhs"),
          count(lit(1)).as("n_groups"),
          sum(when(col("__nr") > 1, 1L).otherwise(0L)).as("violating_groups"))
        .withColumn("holds", col("violating_groups") === 0L)
    }.reduce(_ unionAll _)
  }

  /** Exact contingency table with association lift for two CATEGORICAL
    * columns — the categorical sibling of [[correlationMatrix]] (numeric)
    * and [[functionalDependencies]] (determinism): per (a, b) cell its
    * count, the marginals, and lift_micro = observed over independence
    * (10⁶ = independent) in exact DECIMAL arithmetic, the
    * [[graft.ops.TextAnalysis.collocations]] formula applied to column
    * values. The metadata-dependence probe behind mix design ("is
    * `source` secretly a language partition?"), leakage checks (a split
    * column associated with a label column), and stratification
    * planning. NULL values are categories (nulls carry association
    * signal; the marginals come from windows, never joins, so no
    * null-key rows drop).
    *
    * Scale shape: one partial-aggregated groupBy onto |A|×|B| cells —
    * categorical columns by contract (cardinalities like languages,
    * sources, labels); the marginal windows and the broadcast one-row
    * total all run on the cells frame, so nothing row-sized ever moves
    * after the first aggregate. Output: (colA, colB, n, n_a, n_b,
    * lift_micro).
    */
  /** Gini concentration coefficient per group, integer milli: HOW
    * DOMINATED is a corpus dimension — doc mass per source, token mass
    * per domain, cluster sizes — 0 = perfectly even, →1000 = one member
    * holds everything. The standard headline number for "is this corpus
    * a few-scrapers monoculture", complementing [[heavyHitters]] (WHO
    * dominates) and [[lengthHistogram]] (the shape).
    *
    * Formula: over nonnegative values x₁ ≤ … ≤ xₙ (nulls dropped,
    * negatives rejected upstream by contract — mass cannot be negative),
    * gini = Σ(2i − n − 1)xᵢ / (n·Σx). TIES ARE ORDER-INVARIANT: equal
    * values contribute the same coefficient SUM under any permutation of
    * their ranks, so a bare row_number over the value (no tie-break
    * column) is deterministic across engines — that is what makes the
    * milli result oracle-exact. One rank window per group + one
    * partial-agg rollup; the window shuffles (group, value) pairs only.
    *
    * Output: (group cols…, n, total, gini_milli) with gini_milli =
    * (1000·Σ(2i−n−1)xᵢ) div (n·Σx), 0 when the group total is 0.
    */
  def giniByGroup(df: DataFrame, valueCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val ranked = df
      .select(g :+ col(valueCol).cast("long").as("__x"): _*)
      .where(col("__x").isNotNull)
      .withColumn("__rn",
        row_number().over(Window.partitionBy(g: _*).orderBy(col("__x"))).cast("long"))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(g: _*)).cast("long"))
    ranked
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("total"),
        sum((lit(2L) * col("__rn") - col("__n") - lit(1L)) * col("__x"))
          .as("__num"))
      .select(g ++ Seq(col("n"), col("total"),
        when(col("total") > 0,
          call_function("div", lit(1000L) * col("__num"),
            col("n") * col("total"))).otherwise(lit(0L)).as("gini_milli")): _*)
  }

  /** Benford first-digit audit over numeric columns — the classic
    * fabricated-data / pipeline-bug tripwire for "naturally grown"
    * magnitudes (transaction amounts, counts, file sizes): organic data
    * follows log10(1 + 1/d) per leading digit, while synthetic fills,
    * unit-conversion bugs, and truncated exports show up as flat or
    * spiked digit histograms. Completes the audit family next to
    * [[kAnonymityAudit]]/[[lDiversityAudit]]/[[tClosenessAudit]].
    *
    * Values are `floor`ed to longs FIRST (explicit on both engines —
    * Spark truncates decimal→bigint casts while DuckDB rounds them, so
    * the floor is what makes the digit cross-engine); non-positive values
    * are excluded (Benford is defined on positive magnitudes — audit
    * sign/null hygiene with [[analyzeColumns]]). ONE scan for all audited
    * columns (each row explodes to its (column, first digit) pairs in the
    * scan stage — a per-column union would re-read the table once per
    * column; PlanSpec pins the single scan), one partial-agg count keyed
    * by (column, digit), digit-share arithmetic in integer milli against
    * the rounded-milli Benford constants (301 176 125 97 79 67 58 51 46 —
    * they sum to exactly 1000).
    *
    * Output: (column, digit, n, observed_milli, expected_milli,
    * dev_milli) — one row per column × observed digit; dev_milli =
    * observed − expected.
    */
  def benfordAudit(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val expectedMilli = array(Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)
      .map(lit): _*)
    val perCol = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), floor(col(c)).cast("long").as("v"))): _*))
        .as("p"))
      .select(col("p.column").as("column"), col("p.v").as("v"))
      .where(col("v") > 0)
      .select(col("column"),
        substring(col("v").cast("string"), 1, 1).cast("int").as("digit"))
    val counts = perCol.groupBy(col("column"), col("digit"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("__t", sum(col("n")).over(Window.partitionBy(col("column"))))
      .select(col("column"), col("digit"), col("n"),
        call_function("div", col("n") * 1000L, col("__t")).as("observed_milli"),
        element_at(expectedMilli, col("digit")).as("expected_milli"))
      .withColumn("dev_milli", col("observed_milli") - col("expected_milli"))
  }

  /** Label-balance report per group, fully integer-exact: for each group
    * (a train/test split, a source, a language), the label distribution's
    * size, distinct-label count, majority share, and INVERSE-SIMPSON
    * effective label count — `(1000·n²) div Σcᵢ²`, the "how many labels
    * does this behave like" number (1000·k when perfectly balanced over k
    * labels, →1000 as one label takes over). Chosen over Shannon entropy
    * deliberately: entropy needs `ln`, whose last-ulp varies across libm
    * implementations and breaks bit-exact replay, while Simpson's
    * concentration is pure integer arithmetic in DECIMAL — same
    * diagnostic ordering, exact everywhere. The split-QA companion to
    * [[graft.ops.Curation.assignSplit]]: a split whose effective label
    * count diverges from the corpus's is stratification gone wrong.
    *
    * One (group, label) cell aggregate + a group rollup. Output:
    * (group cols…, n, n_labels, majority_share_milli,
    * effective_labels_milli).
    */
  def balanceReport(df: DataFrame, groupCols: Seq[String],
      labelCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val dec = "decimal(38,0)"
    val g = groupCols.map(col)
    val cells = df
      .where(col(labelCol).isNotNull)
      .groupBy(g :+ col(labelCol).as("__l"): _*)
      .agg(count(lit(1)).cast(dec).as("__c"))
    cells.groupBy(g: _*)
      .agg(sum(col("__c")).as("__n"),
        count(lit(1)).as("n_labels"),
        max(col("__c")).as("__maj"),
        sum(col("__c") * col("__c")).as("__sq"))
      .select(g ++ Seq(
        col("__n").cast("long").as("n"),
        col("n_labels"),
        call_function("div", lit(1000).cast(dec) * col("__maj"), col("__n"))
          .cast("long").as("majority_share_milli"),
        call_function("div", lit(1000).cast(dec) * col("__n") * col("__n"),
          col("__sq")).cast("long").as("effective_labels_milli")): _*)
  }

  /** Per-label precision/recall/F1 against a gold column, integer milli —
    * the classifier-QA report card next to [[cohenKappa]]'s single
    * chance-corrected number: which LABELS the model confuses, not just
    * how much. tp/fp/fn come from one (gold, pred) confusion-cell
    * aggregate (the [[cohenKappa]] plan shape — cells materialize once,
    * per-label rollups reuse the exchange); F1 stays integer-exact as
    * 2000·tp div (2·tp + fp + fn), the harmonic mean's count form (no
    * intermediate milli rounding). Null-label rows drop.
    *
    * Output: one row per label appearing in gold or pred —
    * (label, tp, fp, fn, precision_milli, recall_milli, f1_milli);
    * precision is null for never-predicted labels, recall null for
    * labels absent from gold (0/0 is undefined, not zero — a label with
    * no gold rows has VACUOUS recall, and forcing 0 would read as
    * failure).
    */
  def confusionReport(df: DataFrame, goldCol: String, predCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .where(col(goldCol).isNotNull && col(predCol).isNotNull)
      .groupBy(col(goldCol).as("g"), col(predCol).as("p"))
      .agg(count(lit(1)).cast(dec).as("n"))
    val gold = cells.groupBy(col("g").as("label"))
      .agg(sum("n").as("n_gold"),
        sum(when(col("g") === col("p"), col("n"))).as("tp_g"))
    val pred = cells.groupBy(col("p").as("label"))
      .agg(sum("n").as("n_pred"))
    gold.join(pred, Seq("label"), "full")
      .select(col("label"),
        coalesce(col("tp_g"), lit(0).cast(dec)).as("tp"),
        (coalesce(col("n_pred"), lit(0).cast(dec)) -
          coalesce(col("tp_g"), lit(0).cast(dec))).as("fp"),
        (coalesce(col("n_gold"), lit(0).cast(dec)) -
          coalesce(col("tp_g"), lit(0).cast(dec))).as("fn"))
      .select(col("label"),
        col("tp").cast("long").as("tp"),
        col("fp").cast("long").as("fp"),
        col("fn").cast("long").as("fn"),
        when(col("tp") + col("fp") === 0, lit(null).cast("long"))
          .otherwise(call_function("div", lit(1000).cast(dec) * col("tp"),
            col("tp") + col("fp")).cast("long")).as("precision_milli"),
        when(col("tp") + col("fn") === 0, lit(null).cast("long"))
          .otherwise(call_function("div", lit(1000).cast(dec) * col("tp"),
            col("tp") + col("fn")).cast("long")).as("recall_milli"),
        when(lit(2).cast(dec) * col("tp") + col("fp") + col("fn") === 0,
          lit(null).cast("long"))
          .otherwise(call_function("div", lit(2000).cast(dec) * col("tp"),
            lit(2).cast(dec) * col("tp") + col("fp") + col("fn")).cast("long"))
          .as("f1_milli"))
  }

  /** Cohen's kappa between two label columns, integer milli: the
    * chance-corrected agreement behind every labeling-pipeline QA gate
    * (two raters, rater vs model, model vs heuristic — raw agreement
    * flatters whenever one label dominates; kappa subtracts the agreement
    * two marginal-faithful random raters would reach). Exact DECIMAL
    * arithmetic end-to-end:
    * kappa_milli = 1000·(N·diag − Σ_l r_l·c_l) div (N² − Σ_l r_l·c_l),
    * null when the denominator is 0 (both raters constant — agreement is
    * vacuous and kappa undefined). Null labels drop (label hygiene is
    * [[analyzeColumns]]' job).
    *
    * Plan shape: the (a, b) confusion cells aggregate once (one corpus
    * exchange); both marginals and the totals re-derive from the
    * IDENTICAL cells subplan, which Spark's ReuseExchange collapses to
    * one physical shuffle — everything above it is cell-cardinality-sized.
    * Output: one row (n, n_agree, kappa_milli).
    */
  def cohenKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .where(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).cast(dec).as("n"))
    val ra = cells.groupBy(col("a").as("l")).agg(sum("n").as("r"))
    val cb = cells.groupBy(col("b").as("l")).agg(sum("n").as("c"))
    val pe = ra.join(cb, Seq("l"))
      .agg(coalesce(sum(col("r") * col("c")), lit(0).cast(dec)).as("rc"))
    val tot = cells.agg(
      coalesce(sum(col("n")), lit(0).cast(dec)).as("N"),
      coalesce(sum(when(col("a") === col("b"), col("n"))), lit(0).cast(dec))
        .as("diag"))
    tot.crossJoin(broadcast(pe))
      .select(col("N").cast("long").as("n"),
        col("diag").cast("long").as("n_agree"),
        when(col("N") * col("N") - col("rc") === 0, lit(null).cast("long"))
          .otherwise(call_function("div",
            lit(1000).cast(dec) * (col("N") * col("diag") - col("rc")),
            col("N") * col("N") - col("rc")).cast("long"))
          .as("kappa_milli"))
  }

  /** Krippendorff's alpha (nominal data), integer-exact milli — the
    * agreement coefficient for the REAL shape of annotation tables:
    * any number of raters, raters may skip units, units with a single
    * rating drop (nothing to pair). [[cohenKappa]] covers the two-rater
    * complete-grid special case; alpha is the panel-QA generalization
    * (Krippendorff 2004, computed via the coincidence-matrix identities).
    *
    * Math, reduced to integers: with per-unit label counts cnt_uc,
    * m_u = Σ_c cnt_uc (units with m_u ≥ 2), n = Σ_u m_u and
    * n_c = Σ_u cnt_uc, the nominal coincidence identities give
    *   Do·n     = Σ_u (m_u² − Σ_c cnt_uc²) / (m_u − 1)
    *   De·n(n−1) = n² − Σ_c n_c²
    * so alpha = 1 − (n−1)·S/L / (n² − Σ n_c²) where
    * S = Σ_u (m_u² − Σ_c cnt_uc²) · (L div (m_u − 1)) and L = 27720 =
    * lcm(1..12) clears every per-unit denominator EXACTLY for panels of
    * up to 13 raters per unit — the exactness budget; a unit beyond it
    * raises (pool raters or pre-aggregate panels that large, they are
    * committee decisions, not annotations). alpha_milli =
    * (1000·(L·P − (n−1)·S)) div (L·P) with P = n² − Σ n_c², NULL when
    * P = 0 (all ratings one label — agreement vacuous). No IEEE op
    * anywhere; every product is DECIMAL(38,0) (budget: n ≤ ~10¹² pairable
    * ratings).
    *
    * Scale shape: three keyed partial aggregations — (unit, label)
    * counts, per-unit terms, per-label totals over qualifying units —
    * then one-row frames crossJoin-broadcast; nothing bigger than the
    * distinct (unit, label) set ever shuffles. Output: one row
    * (n_units, n_ratings, n_labels, alpha_milli).
    */
  def krippendorffAlpha(df: DataFrame, itemCol: String, labelCol: String,
      maxRaters: Int = 13): DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 13,
      "maxRaters must be in [2, 13] (the lcm(1..12) exactness budget)")
    val L = 27720L // lcm(1..12): divisible by every m-1 for m in 2..13
    val dec = "decimal(38,0)"
    val cnt = df.where(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("u"), col(labelCol).as("c"))
      .agg(count(lit(1)).as("k"))
    val unit = cnt.groupBy("u")
      .agg(sum(col("k")).as("m"), sum(col("k") * col("k")).as("ss"))
      .where(col("m") >= 2)
    val terms = unit.select(col("u"), col("m"),
      when(col("m") <= maxRaters,
        (col("m") * col("m") - col("ss")).cast(dec) *
          call_function("div", lit(L), col("m") - 1))
        .otherwise(raise_error(concat(
          lit("krippendorffAlpha: unit "), col("u").cast("string"),
          lit(s" has more than $maxRaters ratings - beyond the lcm exactness budget; pool raters first"))))
        .as("s"))
    val gl = terms.agg(
      coalesce(sum(col("s")), lit(0).cast(dec)).as("S"),
      coalesce(sum(col("m")), lit(0).cast(dec)).as("n"),
      count(lit(1)).as("n_units"))
    val labelTotals = cnt
      .join(unit.select("u"), Seq("u"), "left_semi")
      .groupBy("c").agg(sum(col("k")).cast(dec).as("nc"))
    val lab = labelTotals.agg(
      coalesce(sum(col("nc") * col("nc")), lit(0).cast(dec)).as("sum_nc2"),
      count(lit(1)).as("n_labels"))
    gl.crossJoin(broadcast(lab))
      .select(
        col("n_units"),
        col("n").cast("long").as("n_ratings"),
        col("n_labels"),
        {
          val p = (col("n") * col("n") - col("sum_nc2")).cast(dec)
          val lp = lit(L).cast(dec) * p
          when(lp === 0, lit(null).cast("long"))
            .otherwise(call_function("div",
              lit(1000).cast(dec) * (lp - (col("n") - 1) * col("S")),
              lp).cast("long"))
            .as("alpha_milli")
        })
  }

  /** Fleiss' kappa (integer-exact milli) — chance-corrected agreement for
    * a FIXED-SIZE rater panel: every item rated by exactly the same number
    * of raters n (Fleiss 1971). Completes the agreement family:
    * [[cohenKappa]] is the two-rater complete grid, [[krippendorffAlpha]]
    * the ragged any-panel general case; Fleiss is the fixed-panel shape
    * labeling campaigns actually produce (each item routed to n annotators)
    * and the statistic labeling vendors quote.
    *
    * Math, reduced to integers: with per-item-per-label counts n_ij,
    * N items, n raters, c_j = Σ_i n_ij:
    *   P̄  = (Σ_ij n_ij² − N·n) / (N·n·(n−1))        = Pb / Db
    *   P̄e = Σ_j c_j² / (N·n)²                        = Pe / De
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    *      = (Pb·De − Pe·Db) / (Db·(De − Pe))
    * kappa_milli = (1000·(Pb·De − Pe·Db)) div (Db·(De − Pe)), NULL when
    * De = Pe (every rating one label — chance agreement is 1, κ vacuous).
    * Every product is DECIMAL(38,0); Pb·De ≤ N³n⁴ keeps 10⁹ items × 13
    * raters inside the 38-digit budget. No IEEE op anywhere.
    *
    * The fixed-panel precondition is ENFORCED, not assumed: if any item's
    * rating count differs from the panel size (min ≠ max across items) the
    * query raises — a silent ragged panel would change the statistic's
    * meaning (use [[krippendorffAlpha]] for ragged panels).
    *
    * Scale shape: one (item, label) partial-aggregated count, one per-item
    * rollup, one per-label rollup over the same cells frame, then one-row
    * crossJoin-broadcasts — nothing bigger than the distinct (item, label)
    * set ever shuffles. Output: one row (n_items, n_raters, n_labels,
    * kappa_milli).
    */
  def fleissKappa(df: DataFrame, itemCol: String, labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cnt = df.where(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("u"), col(labelCol).as("c"))
      .agg(count(lit(1)).as("k"))
    val unit = cnt.groupBy("u")
      .agg(sum(col("k")).as("m"), sum(col("k") * col("k")).cast(dec).as("ss"))
    val gl = unit.agg(
      count(lit(1)).as("n_items"),
      coalesce(min(col("m")), lit(0L)).as("m_min"),
      coalesce(max(col("m")), lit(0L)).as("m_max"),
      coalesce(sum(col("ss")), lit(0).cast(dec)).as("sum_ss"))
    val lab = cnt.groupBy("c").agg(sum(col("k")).cast(dec).as("nc"))
      .agg(coalesce(sum(col("nc") * col("nc")), lit(0).cast(dec)).as("sum_nc2"),
        count(lit(1)).as("n_labels"))
    gl.crossJoin(broadcast(lab))
      .select(
        col("n_items"),
        when(col("m_min") === col("m_max"), col("m_max"))
          .otherwise(raise_error(concat(
            lit("fleissKappa: panel size varies across items (min "),
            col("m_min").cast("string"), lit(", max "),
            col("m_max").cast("string"),
            lit(") - Fleiss requires a fixed panel; use krippendorffAlpha for ragged panels"))))
          .as("n_raters"),
        col("n_labels"),
        {
          val nTot = (col("n_items").cast(dec) * col("m_max")).cast(dec)
          val pb = col("sum_ss") - nTot
          val db = (nTot * (col("m_max") - 1)).cast(dec)
          val de = (nTot * nTot).cast(dec)
          val denom = db * (de - col("sum_nc2"))
          when(col("m_max") < 2 || denom === 0, lit(null).cast("long"))
            .otherwise(call_function("div",
              lit(1000).cast(dec) * (pb * de - col("sum_nc2") * db),
              denom).cast("long"))
            .as("kappa_milli")
        })
  }

  /** Frozen Poisson(1) CDF cut points in 31-bit hash units
    * (floor(CDF·2³¹)): a hash draw u < cut(k) at the first k gives the
    * replicate weight — the deterministic Poisson bootstrap's inverse-CDF
    * table. The tail (u past the last cut, probability ~0.06%) draws 6.
    * FROZEN constants shared verbatim with the ns_bootstrap oracle SQL —
    * exactness across engines depends on the literals matching, not on
    * them being infinitely precise Poisson values.
    */
  private val PoissonCuts31: Seq[Long] =
    Seq(790015084L, 1580030168L, 1975037710L, 2106706891L, 2139624186L, 2146207645L)

  /** Poisson(1) weight from a 31-bit portable-hash draw — the
    * deterministic-bootstrap weight shared by [[bootstrapMeans]] and
    * [[EvalMetrics.pairedBootstrapBleu]] (one cut table, one replay
    * convention in every oracle).
    */
  private[ops] def poissonWeight31(u: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, when}
    PoissonCuts31.zipWithIndex
      .foldRight(lit(PoissonCuts31.length.toLong)) { case ((cut, k), rest) =>
        when(u < cut, k.toLong).otherwise(rest)
      }
  }

  /** Deterministic Poisson bootstrap replicate means (the scalable
    * bootstrap: Poisson(1) per-row weights approximate multinomial
    * resampling without coordinating a global draw — the standard
    * large-data form). Every (row, replicate) weight derives from the
    * portable hash, so the "random" resample replays bit-for-bit on any
    * engine and any retry: the eval-significance tool ("is ranker A
    * really better, or is this eval-set noise?") as a deterministic
    * dataflow. Output: one row per replicate (replicate, n_eff,
    * mean_milli [Σw·v·1000 div Σw, NULL if the replicate drew nothing]).
    *
    * Scale shape: the explode is |rows|·B (B ≤ 200 enforced — the
    * replicate axis is a CONSTANT fan-out, not a data dimension), all of
    * it partial-aggregated onto B rows in one pass; no window, no join.
    * Values cap at |v| ≤ 10¹² per row; Σw·v accumulates in
    * DECIMAL(38,0) (the crossTab/fleissKappa carrier convention), so the
    * sum and the ·1000 numerator stay exact at any row count — matching
    * the DuckDB oracle's HUGEINT sum rather than wrapping in long (a
    * long Σw·v wraps at ~10⁶ rows of 10¹²-scale values).
    */
  def bootstrapMeans(df: DataFrame, valueCol: String, idCol: String,
      replicates: Int = 64, seed: String = "graft-boot"): DataFrame = {
    require(replicates >= 2 && replicates <= 200,
      "replicates must be in [2, 200]")
    val v = when(col(valueCol).isNotNull &&
        abs(col(valueCol).cast("long")) <= 1000000000000L,
      col(valueCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("bootstrapMeans: value outside [-1e12, 1e12] or NULL for id "),
        col(idCol).cast("string"))))
    val u = graft.ops.Curation.portableHash31(
      concat_ws("|", col(idCol), col("replicate")), seed)
    val w = poissonWeight31(u)
    df.select(col(idCol), v.as("__v"),
        explode(sequence(lit(1L), lit(replicates.toLong))).as("replicate"))
      .select(col("replicate"), col("__v"), w.as("__w"))
      .groupBy("replicate")
      .agg(sum(col("__w")).as("n_eff"),
        sum((col("__w") * col("__v")).cast("decimal(38,0)")).as("__sum"))
      .select(col("replicate"), col("n_eff"),
        when(col("n_eff") > 0,
          call_function("div", col("__sum") * lit(1000L).cast("decimal(4,0)"),
            col("n_eff").cast("decimal(20,0)")))
          .as("mean_milli"))
  }

  /** Bootstrap confidence interval from [[bootstrapMeans]]' replicate
    * table: the percentile-method CI — lo/hi are the replicate means at
    * ranks ceil(α·B) and B+1−ceil(α·B) (two-sided, α in permille), the
    * point estimate is the integer mean of replicate means. Empty
    * replicates (n_eff = 0, possible only on near-empty inputs) drop
    * before ranking. The rank window runs on the B-row replicate frame —
    * metadata-sized by the [[bootstrapMeans]] contract.
    * Output: one row (n_replicates, point_milli, lo_milli, hi_milli).
    * On an EMPTY input (or when every replicate drew nothing)
    * n_replicates is 0 and the three CI columns are NULL — callers get a
    * clean zero-count signal rather than an all-NULL row.
    */
  def bootstrapCI(df: DataFrame, valueCol: String, idCol: String,
      replicates: Int = 64, alphaPermille: Long = 25L,
      seed: String = "graft-boot"): DataFrame = {
    require(alphaPermille >= 1 && alphaPermille < 500,
      "alphaPermille must be in [1, 500)")
    val reps = bootstrapMeans(df, valueCol, idCol, replicates, seed)
      .where(col("mean_milli").isNotNull)
    val ranked = reps
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("mean_milli"), col("replicate"))).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(lit(1))))
      // ceil(alpha*n/1000), floored at rank 1
      .withColumn("__lo_rk", greatest(call_function("div",
        lit(alphaPermille) * col("__n") + 999L, lit(1000L)), lit(1L)))
    ranked.agg(
      coalesce(max(col("__n")), lit(0L)).as("n_replicates"),
      call_function("div", sum(col("mean_milli")), max(col("__n")))
        .as("point_milli"),
      min(when(col("__rk") === col("__lo_rk"), col("mean_milli"))).as("lo_milli"),
      min(when(col("__rk") === col("__n") + 1L - col("__lo_rk"),
        col("mean_milli"))).as("hi_milli"))
  }

  /** Expected calibration error — the one-number rollup of a
    * [[calibrationAudit]] bucket table: ECE = Σ n_b·|gap_b| div Σ n_b in
    * integer milli, the headline a model card quotes where the bucket
    * table is the diagnostic. Composes on the audit output (batch or the
    * streaming twin's per-window slices), so the two can never disagree
    * about bucketing. One partial-aggregated rollup over the
    * bucket-sized frame; output is one row (n, ece_milli [NULL on an
    * empty audit]).
    */
  def expectedCalibrationError(audit: DataFrame): DataFrame =
    audit.agg(
      coalesce(sum(col("n")), lit(0L)).as("n"),
      when(coalesce(sum(col("n")), lit(0L)) > 0,
        call_function("div", sum(col("n") * abs(col("gap_milli"))), sum(col("n"))))
        .as("ece_milli"))

  /** Rank-trimmed robust statistics per group (the trimmed/winsorized
    * mean family): drop the lowest and highest `trimPermille` of rows BY
    * RANK and report the kept range's count/mean/min/max — the score
    * aggregate that a handful of garbage rows (parse explosions, stuck
    * scorers emitting 0) cannot move, where a plain mean can be dragged
    * arbitrarily. Complements [[robustOutliers]] (median/MAD flags the
    * outliers; this reports the center WITHOUT them).
    *
    * Ties are trim-safe: ranking orders by value only, and any tie order
    * yields the same KEPT MULTISET (equal values are interchangeable
    * across the cut), so count/mean/min/max are deterministic without an
    * id tie-break. k = (n·trimPermille) div 1000 rows trim from EACH
    * side; with trimPermille < 500, k < n/2 always, so every non-empty
    * group keeps at least one row. Integer-exact: mean_kept = Σ div
    * n_kept.
    *
    * One rank window PARTITIONED BY GROUP + one partial-aggregated
    * rollup; output is GROUP-sized. Output: groupCols + (n, n_trimmed,
    * n_kept, mean_kept, min_kept, max_kept).
    */
  def trimmedStats(df: DataFrame, valueCol: String, groupCols: Seq[String],
      trimPermille: Long = 50L): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(trimPermille >= 0 && trimPermille < 500,
      "trimPermille must be in [0, 500) - trimming half from each side keeps nothing")
    val g = groupCols.map(col)
    val ranked = df.where(col(valueCol).isNotNull)
      .select(g :+ col(valueCol).cast("long").as("__v"): _*)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(g: _*).orderBy(col("__v").asc)).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(g: _*)))
      .withColumn("__k", call_function("div", col("__n") * trimPermille, lit(1000L)))
    ranked.groupBy(g: _*)
      .agg(max(col("__n")).as("n"),
        (lit(2L) * max(col("__k"))).as("n_trimmed"),
        sum(when(col("__rk") > col("__k") && col("__rk") <= col("__n") - col("__k"), 1L))
          .as("__nk"),
        sum(when(col("__rk") > col("__k") && col("__rk") <= col("__n") - col("__k"),
          col("__v"))).as("__sum"),
        min(when(col("__rk") > col("__k") && col("__rk") <= col("__n") - col("__k"),
          col("__v"))).as("min_kept"),
        max(when(col("__rk") > col("__k") && col("__rk") <= col("__n") - col("__k"),
          col("__v"))).as("max_kept"))
      .select(g ++ Seq(col("n"), col("n_trimmed"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        when(coalesce(col("__nk"), lit(0L)) > 0,
          call_function("div", col("__sum"), col("__nk"))).as("mean_kept"),
        col("min_kept"), col("max_kept")): _*)
  }

  /** Calibration audit for a binary scorer (reliability-diagram buckets,
    * integer-exact): scores in milli-probability [0, 1000] bucket by
    * `bucketWidth`, and each bucket reports its observed positive rate
    * against its mean claimed score — the per-bucket gap is the
    * reliability diagram, and Σ n·|gap| / N is ECE (left to the caller,
    * it's one aggregate over this output). The artifact that answers
    * "can I threshold this quality classifier at 0.8 and trust it?"
    * before a model-based filter ([[graft.ops.Classifier]] scores,
    * LM-score gates, reward margins) is allowed to delete data.
    *
    * Scores outside [0, 1000] raise (a milli-probability that isn't one
    * is an upstream bug, not a bucket); score = 1000 lands in its own
    * top boundary bucket (div semantics, documented rather than folded).
    * NULL labels raise for the same reason. All arithmetic integral:
    * observed_permille = (1000·n_pos) div n, mean_score_milli =
    * Σscore div n, gap_milli = observed − mean.
    *
    * One partial-aggregated groupBy onto ≤ 1000/bucketWidth + 1 buckets;
    * output is BUCKET-sized. Output: (bucket, n, n_pos,
    * mean_score_milli, observed_permille, gap_milli).
    */
  def calibrationAudit(df: DataFrame, scoreMilliCol: String, labelCol: String,
      bucketWidth: Long = 100L): DataFrame = {
    val score = when(col(scoreMilliCol) >= 0 && col(scoreMilliCol) <= 1000,
      col(scoreMilliCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("calibrationAudit: score outside [0, 1000] milli: "),
        col(scoreMilliCol).cast("string"))))
    val label = when(col(labelCol).isNotNull, col(labelCol).cast("long"))
      .otherwise(raise_error(lit("calibrationAudit: NULL label")))
    calibrationOver(df.select(score.as("__s"), label.as("__l")), Seq.empty,
      col("__s"), col("__l"), bucketWidth)
  }

  /** [[calibrationAudit]]'s bucket finish generalized to group keys (the
    * streaming twin passes its window column): `score` and `label` are
    * long columns the caller has already guarded (the batch auditor
    * raises on poison rows, the twin drops them), bucketed by `div`.
    * Output: the keys, then calibrationAudit's columns.
    */
  private[graft] def calibrationOver(df: DataFrame, keys: Seq[Column],
      score: Column, label: Column, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1 && bucketWidth <= 1000,
      "bucketWidth must be in [1, 1000]")
    df.groupBy(keys :+ call_function("div", score, lit(bucketWidth)).as("bucket"): _*)
      .agg(count(lit(1)).as("n"), sum(label).as("n_pos"), sum(score).as("__sum_s"))
      .withColumn("mean_score_milli", call_function("div", col("__sum_s"), col("n")))
      .withColumn("observed_permille",
        call_function("div", col("n_pos") * 1000L, col("n")))
      .withColumn("gap_milli",
        col("observed_permille") - col("mean_score_milli"))
      .drop("__sum_s")
  }

  def crossTab(df: DataFrame, colA: String, colB: String): DataFrame = {
    require(colA != colB, "need two distinct columns")
    val dec = "decimal(38,0)"
    val cells = df.groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).cast(dec).as("n"))
    // the grand total comes from a window over the CELLS frame, not a
    // second aggregate branch: an unpersisted second branch would re-scan
    // the corpus (PlanSpec-gated); the single-partition window is bounded
    // by the |A|×|B| cells contract
    cells
      .withColumn("n_a", sum(col("n")).over(Window.partitionBy(col("a"))))
      .withColumn("n_b", sum(col("n")).over(Window.partitionBy(col("b"))))
      .withColumn("__N", sum(col("n")).over(Window.partitionBy(lit(1))))
      .select(col("a").as(colA), col("b").as(colB),
        col("n").cast("long").as("n"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        call_function("div", lit(1000000L).cast(dec) * col("n") * col("__N"),
          col("n_a") * col("n_b")).as("lift_micro"))
  }

  /** Distribution drift between two corpora on one numeric column — the
    * histogram-level complement of [[profileDrift]]'s per-metric deltas:
    * equal-width buckets over [lo, hi] (out-of-range values clamp into
    * the edge buckets, so range surprises show up as edge mass; NULLs
    * and values that cannot cast to BIGINT drop — completeness is
    * [[graft.ops.Tables.expectationReport]]'s job), per-bucket counts
    * and permille shares for both sides, and the two standard one-number
    * drift statistics:
    *
    *   - `ks_micro` — the Kolmogorov-Smirnov statistic
    *     max |CDF_a − CDF_b| in micro-units: the "is this the same
    *     distribution" alarm threshold number
    *   - `emd_micro` — the 1-D earth-mover (Wasserstein-1) distance in
    *     micro-units of BUCKET WIDTHS, Σ |CDF_a − CDF_b|: how FAR the
    *     mass moved, which KS's max cannot see (a small shift of all
    *     mass vs a large shift of a little mass)
    *
    * Both are integer-exact: per-bucket cross products cumA·totB −
    * cumB·totA carry in DECIMAL(38,0) and divide ONCE by totA·totB at
    * the end, so the numbers replay bit-for-bit in the oracle (the PSI
    * alternative needs ln — a float no two engines round alike — which
    * is why the drift pair here is KS + EMD).
    *
    * Scale shape: each side reduces in one partial-aggregated bucket
    * count (a `buckets`-row exchange per side); shares, CDFs, and the
    * statistics ride windows over a DENSIFIED bucket spine (exactly
    * `buckets` rows — metadata, the crossTab convention). The spine is
    * load-bearing for EMD: |CDF_a − CDF_b| persists across EMPTY buckets
    * (mass at bucket 0 vs bucket 19 is 19 widths apart, and 18 of those
    * rows are empty), so a sum over occupied buckets alone would
    * under-report exactly the far-moved mass the metric exists to see.
    *
    * Output: (bucket, n_a, n_b, share_a_permille, share_b_permille,
    * ks_micro, emd_micro) — one row per bucket 0..buckets−1, the two
    * statistics constant across rows.
    */
  /** Clamp-then-bucket shared by [[distributionDrift]] and
    * [[graft.streaming.Windows.streamingDistributionDrift]] (the twins
    * must agree on which bucket a value lands in — one definition).
    * Clamping BEFORE the multiply plus a DECIMAL(38,0) product is what
    * makes the arithmetic wrap-proof: `(v − lo) · buckets` on a raw
    * nanosecond-epoch value wraps a long and would land far-out values
    * on the WRONG edge, inverting the edge-mass signal.
    */
  private[graft] def clampedBucket(v: Column, lo: Long, hi: Long,
      buckets: Int): Column = {
    val vc = greatest(lit(lo), least(lit(hi), v))
    val raw = call_function("div",
      (vc - lo).cast("decimal(38,0)") * buckets.toLong, lit(hi - lo))
    least(lit(buckets - 1L), raw)
  }

  def distributionDrift(a: DataFrame, b: DataFrame, valueCol: String,
      buckets: Int, lo: Long, hi: Long): DataFrame = {
    require(buckets >= 2 && buckets <= 10000, "buckets must be in [2, 1e4]")
    require(lo < hi, "lo must be < hi")
    require(BigInt(hi) - BigInt(lo) <= Long.MaxValue,
      "hi - lo must fit a long (the span literal)")
    val dec = "decimal(38,0)"
    // filter on the CAST, not the raw column: a value that cannot cast
    // to BIGINT (overflowing decimal, string column) would otherwise
    // survive into a NULL bucket and silently vanish from the totals
    val v = col(valueCol).cast("long")
    def counts(df: DataFrame, out: String): DataFrame =
      df.where(v.isNotNull)
        .groupBy(clampedBucket(v, lo, hi, buckets).as("bucket"))
        .agg(count(lit(1)).as(out))
    val spine = a.sparkSession.range(buckets.toLong).select(col("id").as("bucket"))
    val joined = spine
      .join(counts(a, "n_a"), Seq("bucket"), "left")
      .join(counts(b, "n_b"), Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val w = Window.partitionBy(lit(1)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(lit(1))
    val cum = joined
      .withColumn("__ca", sum(col("n_a")).over(w))
      .withColumn("__cb", sum(col("n_b")).over(w))
      .withColumn("__ta", sum(col("n_a")).over(whole))
      .withColumn("__tb", sum(col("n_b")).over(whole))
      // |cumA·totB − cumB·totA| — exact cross product, one division later
      .withColumn("__x",
        abs(col("__ca").cast(dec) * col("__tb").cast(dec) -
          col("__cb").cast(dec) * col("__ta").cast(dec)))
    cum
      .withColumn("__mx", max(col("__x")).over(whole))
      .withColumn("__sx", sum(col("__x")).over(whole))
      // NULL, never 0, when a side is empty: 0 is the ALL-CLEAR value,
      // and "today's extract produced no rows" is the maximal anomaly a
      // drift monitor exists to catch (the rougeN undefined-is-NULL
      // convention)
      .select(col("bucket"), col("n_a"), col("n_b"),
        scaled(col("n_a"), col("__ta"), 1000L).as("share_a_permille"),
        scaled(col("n_b"), col("__tb"), 1000L).as("share_b_permille"),
        when(col("__ta") > 0 && col("__tb") > 0,
          call_function("div", col("__mx") * lit(1000000L).cast(dec),
            col("__ta").cast(dec) * col("__tb").cast(dec)))
          .as("ks_micro"),
        when(col("__ta") > 0 && col("__tb") > 0,
          call_function("div", col("__sx") * lit(1000000L).cast(dec),
            col("__ta").cast(dec) * col("__tb").cast(dec)))
          .as("emd_micro"))
  }

  /** Deterministic shard assignment + per-shard manifest — the publishing
    * step of a dataset build: rows hash into `shards` stable buckets and
    * each bucket reports the numbers a consumer verifies a download
    * against (row count, payload bytes, id range, an order-independent
    * content digest) plus the balance number the WRITER consults
    * (`bytes_share_permille` — a shard far off 1000/shards means the id
    * space or payload sizes are skewed and the shard count should move).
    *
    * Assignment is [[graft.ops.Curation.portableHash31]] mod `shards` on
    * the ID, so shard membership is a pure row-local predicate: any
    * engine, any run, any subset of workers re-derives the same
    * assignment (re-sharding a 100 TB corpus must never depend on row
    * order or partition layout). The digest is Σ per-row 31-bit payload
    * hashes mod 2⁶¹−1 — commutative, so it is insensitive to row order
    * WITHIN a shard (parquet writers reorder freely) while any dropped,
    * duplicated, or corrupted row moves it.
    *
    * Scale shape: one partial-aggregated groupBy on the shard id —
    * `shards` output rows, the exchange carries one partial row per
    * (task, shard). The share column rides a single-partition window over
    * the MANIFEST frame (≤ `shards` rows, the crossTab convention — a
    * second aggregate branch would re-scan the corpus).
    * NULL payloads count 0 bytes and hash as the empty
    * string (distinguishable in `rows` vs a missing row, which is the
    * audit that matters).
    *
    * Output: (shard, n_rows, bytes, min_id, max_id, digest,
    * bytes_share_permille); an EMPTY shard is absent — absence is the
    * signal that the hash space is under-filled, not a zero row.
    */
  def shardManifest(df: DataFrame, idCol: String, payloadCol: String,
      shards: Int): DataFrame = {
    require(shards >= 1 && shards <= 1000000, "shards must be in [1, 1e6]")
    val dec = "decimal(38,0)"
    val Mod = 2305843009213693951L // 2^61 - 1
    val rowHash = Curation.portableHash31(coalesce(col(payloadCol), lit("")), "graft-shard-digest")
    val perRow = df.select(
      pmod(Curation.portableHash31(col(idCol), "graft-shard"), lit(shards.toLong))
        .as("shard"),
      col(idCol).cast("long").as("__id"),
      // octet_length, not length: the manifest verifies DOWNLOADS, so
      // bytes must mean UTF-8 octets — a CJK shard's char count is a
      // third of what the wire carries
      coalesce(octet_length(col(payloadCol)).cast("long"), lit(0L)).as("__b"),
      rowHash.as("__h"))
    val manifest = perRow.groupBy("shard").agg(
      count(lit(1)).as("n_rows"),
      sum(col("__b")).as("bytes"),
      min(col("__id")).as("min_id"),
      max(col("__id")).as("max_id"),
      (sum(col("__h").cast(dec)) % lit(Mod).cast(dec)).cast("long").as("digest"))
    // grand total via a window over the MANIFEST frame (≤ `shards` rows —
    // the crossTab convention): a second aggregate branch would re-scan
    // the corpus, a broadcast would need a persist to avoid the same
    manifest
      .withColumn("__tot", sum(col("bytes")).over(Window.partitionBy(lit(1))))
      .select(col("shard"), col("n_rows"), col("bytes"), col("min_id"),
        col("max_id"), col("digest"),
        scaled(col("bytes"), col("__tot"), 1000L).otherwise(lit(0L)).as("bytes_share_permille"))
  }
}
