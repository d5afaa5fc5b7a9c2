package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.exact.{cosPermille, normSq}

/** Embedding preprocessing: exact distributed second moments → driver-side
  * PCA, and the projection/whitening apply path the ANN family consumes
  * (dimension reduction before [[Similarity]]'s LSH/IVF/PQ tiers — the
  * OPQ-style preprocessing step of vector-search pipelines).
  *
  * Train-small/apply-everywhere, with the repo's determinism discipline:
  *
  *   - MOMENTS are exact integers: each component micro-quantizes
  *     (`round(x·quantScale)`, the shared int8/pca convention) and the
  *     d + d² sums accumulate as longs through a partial-aggregated
  *     explode — the exchange carries at most d² rows PER PARTITION
  *     regardless of corpus size, and long sums commute, so the Gram
  *     matrix is bit-for-bit identical under any partitioning. A float
  *     accumulation would train a slightly different model per shuffle
  *     order.
  *   - EIGENSOLVE runs on the driver over the d×d covariance (cyclic
  *     Jacobi sweeps, fixed rotation order, deterministic sign
  *     convention) — O(d³) on O(d²) state, the bounded-model tier like
  *     [[Bpe]]'s merge table and [[Classifier]]'s weights.
  *   - PROJECTION is a zero-shuffle scan (ProjectVecExpr): quantized
  *     integer dots against the micro-quantized component rows, so the
  *     projected values — not an approximation of them — replay in the
  *     DuckDB oracle (`ns_embed_pca`).
  *
  * Overflow budget: |x·quantScale| ≤ S ⇒ each product ≤ S², summed over N
  * rows ⇒ needs N·S² < 2⁶³. Unit-norm embeddings at the default
  * quantScale 10⁶ keep S ≈ 10⁶, good to N ≈ 10⁶ training rows — PCA
  * trains on a sample anyway (pass a sampled frame; [[Similarity]]'s
  * refinementSample is the standard source). Larger samples: lower
  * quantScale.
  */
object Embeddings {

  /** A trained PCA basis: k × dim component rows in micro-units (each row
    * is a unit eigenvector scaled by 10⁶), with the quantization scale the
    * projection applies to inputs. Carried together so apply can never
    * mix scales — same rationale as [[Dedup.MinhashIndex]].
    */
  final case class PcaModel(componentsMicro: Array[Array[Long]],
      meanMicro: Array[Long], dim: Int, quantScale: Long) {
    require(componentsMicro.nonEmpty && componentsMicro.forall(_.length == dim),
      "component rows must all have the model dimension")
    require(meanMicro.length == dim, "mean must have the model dimension")
    def k: Int = componentsMicro.length
  }

  private def quantized(vecCol: String, quantScale: Long): Column =
    graft.functions.exact.quantized(col(vecCol).cast("array<double>"), quantScale)

  /** Exact integer moment sums: (n, sum_i, sum_ij) with
    * `sum_ij(i·d + j) = Σ q_i·q_j`. One explode + one partial-aggregated
    * groupBy each; exchanges bounded by d (resp. d²) rows per partition.
    */
  private[ops] def momentSums(vecs: DataFrame, vecCol: String, dim: Int,
      quantScale: Long): (Long, Array[Long], Array[Long]) = {
    // three actions consume the quantized projection (count, first and
    // second moments) — persist it so the upstream scan + quantization
    // run once, not three times
    val q = vecs.select(quantized(vecCol, quantScale).as("q"))
      .filter(size(col("q")) === dim)
      .persist()
    try {
      val n = q.count()
      require(n > 0, s"no vectors of dimension $dim to train on")
      val s1 = new Array[Long](dim)
      q.select(posexplode(col("q")).as(Seq("i", "x")))
        .groupBy("i").agg(sum("x").as("s")).collect()
        .foreach(r => s1(r.getInt(0)) = r.getLong(1))
      val s2 = new Array[Long](dim * dim)
      q.select(posexplode(expr("flatten(transform(q, x -> transform(q, y -> x * y)))"))
          .as(Seq("p", "v")))
        .groupBy("p").agg(sum("v").as("s")).collect()
        .foreach(r => s2(r.getInt(0)) = r.getLong(1))
      (n, s1, s2)
    } finally q.unpersist()
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix: returns
    * (eigenvalues, eigenvectors as rows), unordered. Fixed sweep order and
    * a fixed convergence threshold — deterministic for identical input.
    */
  private[ops] def jacobiEigen(a: Array[Array[Double]], maxSweeps: Int = 64)
      : (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val m = a.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > 1e-14) {
      off = 0.0
      for (p <- 0 until d; qq <- (p + 1) until d) {
        off += m(p)(qq) * m(p)(qq)
        if (math.abs(m(p)(qq)) > 1e-18) {
          val theta = (m(qq)(qq) - m(p)(p)) / (2.0 * m(p)(qq))
          // theta == 0 (equal diagonal pair) still needs the 45° rotation:
          // signum(0) = 0 would silently skip it and stall convergence
          val t = if (theta == 0.0) 1.0
            else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until d) {
            val mip = m(i)(p); val miq = m(i)(qq)
            m(i)(p) = c * mip - s * miq
            m(i)(qq) = s * mip + c * miq
          }
          for (i <- 0 until d) {
            val mpi = m(p)(i); val mqi = m(qq)(i)
            m(p)(i) = c * mpi - s * mqi
            m(qq)(i) = s * mpi + c * mqi
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(qq)
            v(i)(p) = c * vip - s * viq
            v(i)(qq) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => m(i)(i)),
      Array.tabulate(d)(j => Array.tabulate(d)(i => v(i)(j))))
  }

  /** Train a k-component PCA basis on `vecs` (pass a SAMPLE for large
    * corpora — see the overflow budget above). Components are unit
    * eigenvectors of the covariance of the micro-quantized vectors,
    * ordered by descending eigenvalue (ties by first-seen order), each
    * sign-normalized so its largest-magnitude entry is positive, then
    * micro-quantized. `center = true` (the standard PCA transform) stores
    * the quantized corpus mean, which projection subtracts before the
    * dot; pass `center = false` when a pure rotation is wanted (e.g. to
    * preserve raw cosine geometry for a downstream ANN tier).
    */
  def trainPca(vecs: DataFrame, vecCol: String, dim: Int, k: Int,
      quantScale: Long = 1000000L, center: Boolean = true): PcaModel = {
    require(k >= 1 && k <= dim, s"k must be in [1, $dim]")
    val (n, s1, s2) = momentSums(vecs, vecCol, dim, quantScale)
    val nd = n.toDouble
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      (s2(i * dim + j) / nd - (s1(i) / nd) * (s1(j) / nd)) / (quantScale.toDouble * quantScale)
    }
    val (evals, evecs) = jacobiEigen(cov)
    val top = evals.zipWithIndex.sortBy { case (ev, i) => (-ev, i) }.take(k)
    val comps = top.map { case (_, i) =>
      val vec = evecs(i)
      val maxAbs = vec.indices.maxBy(j => (math.abs(vec(j)), -j))
      val sign = if (vec(maxAbs) < 0) -1.0 else 1.0
      vec.map(x => math.round(x * sign * 1000000.0))
    }
    val mean =
      if (center) s1.map(s => math.round(s.toDouble / nd))
      else new Array[Long](dim)
    PcaModel(comps, mean, dim, quantScale)
  }

  /** Project vectors onto the basis: `(id, proj)` where
    * `proj(k) = Σ_i (round(x_i·quantScale) − μ_i) · comp_k(i)` — exact
    * integers, zero shuffle, model in the task closure. Null-length
    * mismatches drop.
    */
  def project(vecs: DataFrame, idCol: String, vecCol: String,
      model: PcaModel): DataFrame =
    vecs.select(col(idCol).as("id"),
        graft.functions.text.projectVec(col(vecCol).cast("array<double>"),
          model.componentsMicro, model.meanMicro, model.quantScale).as("proj"))
      .filter(col("proj").isNotNull)

  /** L2-normalize a vector column (double array out; a utility projection
    * for cosine pipelines, not an oracle-gated path).
    */
  /** Per-dimension embedding QA profile — the pre-flight check before any
    * ANN/PCA/quantization tier: per dim, exact integer micro-unit moments
    * (count, sum, sum of squares), range, truncated-integer mean, and a
    * `collapsed` flag (min == max — a dead dimension, the classic symptom
    * of a degenerate encoder or a zero-padded export). One explode + one
    * partial-aggregated groupBy: the exchange is bounded by `dim` rows
    * per partition regardless of corpus size, and long sums commute, so
    * the profile is bit-for-bit identical under any partitioning (same
    * overflow budget as [[trainPca]]: N·quantScale² < 2⁶³).
    */
  def embeddingProfile(vecs: DataFrame, vecCol: String, dim: Int,
      quantScale: Long = 1000000L): DataFrame =
    vecs.select(quantized(vecCol, quantScale).as("q"))
      .filter(size(col("q")) === dim)
      .select(posexplode(col("q")).as(Seq("dim_idx", "x")))
      .groupBy("dim_idx")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sum_micro"),
        sum(col("x") * col("x")).as("sum_sq_micro2"),
        min("x").as("min_micro"),
        max("x").as("max_micro"))
      .select(col("dim_idx"), col("n"), col("sum_micro"),
        call_function("div", col("sum_micro"), col("n")).as("mean_micro"),
        col("sum_sq_micro2"), col("min_micro"), col("max_micro"),
        (col("min_micro") === col("max_micro")).as("collapsed"))

  /** One-row corpus norm profile: count, zero-vector count (the poison
    * rows cosine tiers divide by), and exact integer min/max/mean of the
    * squared micro-unit norm. Zero shuffle until the final single-row
    * aggregate; the per-row norm is one `aggregate` fold over the
    * quantized array.
    */
  def normProfile(vecs: DataFrame, vecCol: String, dim: Int,
      quantScale: Long = 1000000L): DataFrame =
    vecs.select(quantized(vecCol, quantScale).as("q"))
      .filter(size(col("q")) === dim)
      .select(normSq(col("q")).as("norm2"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("norm2") === 0, 1L).otherwise(0L)).as("n_zero"),
        min("norm2").as("min_norm2"),
        max("norm2").as("max_norm2"),
        call_function("div", sum(col("norm2")), count(lit(1))).as("mean_norm2"))

  def l2Normalize(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val norm = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    when(norm > 0, transform(v, x => x / norm)).otherwise(v)
  }

  /** Mean-pool many embeddings into one vector per group — the
    * chunk→document (or doc→class-prototype) reduction every long-doc
    * embedding pipeline needs: embed bounded chunks, pool to a doc vector
    * for ANN/dedup. Exact integer arithmetic: components micro-quantize
    * (same `quantScale` convention as [[trainPca]]/[[embeddingProfile]]),
    * LONG sums are order-independent, and the mean is an integer division
    * — so pooled vectors replay bit-for-bit across engines and retries
    * (a float mean would depend on reduction order).
    *
    * Long-format output (group, dim_idx, n_chunks, mean_micro): the
    * portable/oracle form. Scale shape: explode to (group, dim) then ONE
    * partially-aggregated groupBy — the exchange carries groups × dim
    * partial rows per partition (map-side combined), not chunks × dim;
    * vectors with the wrong `dim` are dropped (the [[embeddingProfile]]
    * pre-flight counts them). Use [[meanPoolVectors]] for the assembled
    * array form ANN consumes.
    */
  def meanPool(vecs: DataFrame, groupCol: String, vecCol: String, dim: Int,
      quantScale: Long = 1000000L): DataFrame =
    vecs.select(col(groupCol).as("__g"), quantized(vecCol, quantScale).as("q"))
      .filter(size(col("q")) === dim)
      .select(col("__g"), posexplode(col("q")).as(Seq("dim_idx", "x")))
      .groupBy("__g", "dim_idx")
      .agg(count(lit(1)).as("n_chunks"),
        call_function("div", sum("x"), count(lit(1))).as("mean_micro"))
      .withColumnRenamed("__g", groupCol)

  /** Pairwise affinity between GROUP CENTROIDS: mean-pool each group
    * ([[meanPool]]'s integer-exact reduction), then score every group
    * pair by centroid dot product and cosine. The corpus-cartography
    * rollup — which topics/classes/sources sit close in embedding space —
    * that drives mix design ("these two sources are near-duplicates of
    * each other's distribution"), label-noise triage (two classes with
    * cos ≈ 1000 permille are one class), and SemDeDup-style cell merging.
    *
    * Exact where it matters: pooled components, dots and squared norms
    * are integer micro-unit arithmetic (order-independent LONG sums);
    * only the final cosine takes the repo's fixed-order IEEE tail (two
    * sqrts, one divide — bit-replayable cross-engine like the profile
    * family's mean_word_len). Zero-norm centroids score cos 0.
    *
    * Scale shape: G groups × d dims. The pair stage is an EQUI-join on
    * dim_idx (d keys × G rows each), so the exchange is hash-joinable —
    * no nested-loop product — and the G²-pair aggregate partial-combines
    * map-side. Affinity matrices are for group-like cardinalities
    * (sources, languages, classes: G ≤ ~10⁴ → ≤ 10⁸ partial rows across
    * the cluster); per-DOCUMENT similarity belongs to the ANN family.
    *
    * Output: (group_a, group_b, dot, cos_permille), group_a < group_b.
    */
  def groupAffinity(vecs: DataFrame, groupCol: String, vecCol: String,
      dim: Int, quantScale: Long = 1000000L): DataFrame = {
    val pooled = meanPool(vecs, groupCol, vecCol, dim, quantScale)
      .select(col(groupCol).as("g"), col("dim_idx"), col("mean_micro").as("v"))
    val norms = pooled.groupBy("g").agg(sum(col("v") * col("v")).as("nsq"))
    val dots = pooled.select(col("g").as("ga"), col("dim_idx"), col("v").as("va"))
      .join(pooled.select(col("g").as("gb"), col("dim_idx"), col("v").as("vb")),
        "dim_idx")
      .where(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(sum(col("va") * col("vb")).as("dot"))
    dots
      .join(norms.select(col("g").as("ga"), col("nsq").as("na")), "ga")
      .join(norms.select(col("g").as("gb"), col("nsq").as("nb")), "gb")
      .select(col("ga").as("group_a"), col("gb").as("group_b"), col("dot"),
        when(col("na") > 0 && col("nb") > 0, cosPermille(col("dot"), col("na"), col("nb")))
          .otherwise(lit(0L)).as("cos_permille"))
  }

  /** [[meanPool]] assembled back into one micro-unit LONG vector per group
    * (components in dim order). The collect_list is per-group and
    * dim-bounded; array_sort on (dim_idx, value) structs pins the order so
    * assembly is deterministic on any partitioning.
    */
  def meanPoolVectors(vecs: DataFrame, groupCol: String, vecCol: String,
      dim: Int, quantScale: Long = 1000000L): DataFrame =
    meanPool(vecs, groupCol, vecCol, dim, quantScale)
      .groupBy(groupCol)
      .agg(transform(
        array_sort(collect_list(struct(col("dim_idx"), col("mean_micro")))),
        s => s.getField("mean_micro")).as("pooled_micro"),
        max(col("n_chunks")).as("n_chunks"))

  /** Label-noise triage: integer squared distance from every vector to its
    * OWN group's centroid ([[meanPoolVectors]]'s exact pooled mean), plus
    * a deterministic within-group outlier rank (1 = farthest; ties break
    * by id). The standard mislabeled-example detector — a document whose
    * embedding sits far from its class centroid is a labeling error,
    * an off-topic scrape, or genuinely hard, and all three are what a
    * curation pass wants ranked first — and the cheap single-pass
    * complement to [[graft.ops.Dedup.semDedup]] (which compares pairs;
    * this compares to the prototype).
    *
    * Integer-exact end-to-end: quantized components minus integer
    * centroid components, squared and long-summed — no floats anywhere,
    * so the `ns_embed_outliers` oracle replays d2 bit-for-bit. Overflow:
    * component diffs ≤ 2·quantScale ⇒ d2 ≤ 4·dim·quantScale² (64 dims at
    * 10⁶ → 2.6·10¹⁴, comfortable).
    *
    * Scale shape: centroids are G×d rows pooled by one partial-agg
    * exchange; the distance pass joins them back BROADCAST (group-like
    * cardinalities by contract) so the scan never shuffles, and the rank
    * window repartitions by group only — (id, group, d2) rows, vectors
    * never leave the scan stage. Wrong-dimension vectors drop (the
    * meanPool rule).
    *
    * Output: (id, group, d2, outlier_rank).
    */
  def centroidOutliers(vecs: DataFrame, groupCol: String, idCol: String,
      vecCol: String, dim: Int, quantScale: Long = 1000000L): DataFrame = {
    val cents = meanPoolVectors(vecs, groupCol, vecCol, dim, quantScale)
      .select(col(groupCol), col("pooled_micro"))
    val q = vecs.select(col(idCol).as("id"), col(groupCol),
        quantized(vecCol, quantScale).as("q"))
      .filter(size(col("q")) === dim)
    val d = q.join(broadcast(cents), groupCol)
      .select(col("id"), col(groupCol),
        aggregate(zip_with(col("q"), col("pooled_micro"),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
    d.withColumn("outlier_rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(groupCol).orderBy(col("d2").desc, col("id")))
        .cast("long"))
  }
}
