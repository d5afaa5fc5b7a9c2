package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (Array[Float]).
  *
  * Two tiers:
  *   - `bruteForceTopK`: exact cosine top-k. The join is
  *     queries × corpus, so use it when |queries| is small (it broadcasts
  *     the query side) — the corpus side streams, never materializes.
  *   - `lshTopK`: the scale path. Random-hyperplane LSH (sign of dot with
  *     `p` seeded pseudo-random planes → p-bit bucket): corpus is
  *     hash-partitioned by bucket; queries probe their own bucket plus
  *     optional multi-probe neighbors (1-bit flips). Shuffle volume is
  *     O(corpus) once for bucketing, then per-bucket joins. At 100 TB this
  *     is the difference between an impossible cross join and a bounded
  *     bucket join; recall is tunable via planes/probes.
  *
  * Vector math runs in single-pass expressions (CosineSimExpr,
  * HyperplaneKeysExpr); hyperplanes derive deterministically from
  * XXH64(dim, plane), so the operator needs no side data and both sides
  * bucket identically.
  */
object Similarity {

  /** Cosine similarity of two double-array columns (single-pass
    * expression — see graft.functions.text.CosineSimExpr; the HOF
    * formulation is interpreted per element and ~10× slower).
    */
  def cosine(a: Column, b: Column): Column = graft.functions.text.cosineSim(a, b)

  /** The rank-and-cut every kNN search below ends with: per query, rank
    * the scored (query_id, neighbor_id, sim) rows by sim descending with
    * neighbor_id breaking ties, and keep ranks 1..k. Output: (query_id,
    * neighbor_id, `extra`…, rank).
    */
  private def topKPerQuery(scored: DataFrame, k: Int, extra: String*): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select((Seq("query_id", "neighbor_id") ++ extra :+ "rank").map(col): _*)
  }

  /** Exact top-k neighbors for each query vector.
    * Output: (query_id, neighbor_id, rank) — ranks are deterministic
    * (similarity desc, id asc tie-break).
    */
  def bruteForceTopK(
      queries: DataFrame, // (id, vec)
      corpus: DataFrame, // (id, vec)
      k: Int,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
    topKPerQuery(joined, k)
  }

  /** Hard-negative mining for contrastive training: for every query, its
    * `k` most-similar corpus items carrying a DIFFERENT label — the pairs
    * a contrastive/embedding objective learns most from (near the decision
    * boundary, unlike random negatives which are trivially far). The
    * standard retrieval-training data generator (DPR/SimCSE-style) and the
    * confusion probe: a query whose top hard negative outranks its own
    * class's neighbors is a labeling problem [[graft.ops.Embeddings.centroidOutliers]]
    * sees from the centroid side.
    *
    * Brute-force tier (this): corpus × broadcast-queries scan, exact
    * cosine, per-query rank window — the oracle-gated baseline, right
    * whenever query batches are bounded (the mining loop's usual shape:
    * a few thousand anchors per step against the full corpus). At
    * corpus-scale query sets, generate candidates with [[lshTopK]] /
    * [[ivfTopK]] first and label-filter those instead: hard negatives are
    * by definition high-similarity, exactly what ANN recall is best at.
    * NULL labels never match any label (null-safe inequality), so
    * unlabeled corpus rows are negatives for everyone.
    *
    * Output: (query_id, neighbor_id, neg_label, rank) — rank-only like
    * the ANN gates (cosine ordering replays cross-engine; its float value
    * does not).
    */
  def hardNegatives(
      queries: DataFrame, // (id, vec, label)
      corpus: DataFrame, // (id, vec, label)
      k: Int
  ): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      col("label").as("__ql"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      col("label").as("neg_label"))
    val joined = c.join(broadcast(q),
      col("query_id") =!= col("neighbor_id") &&
        !(col("__ql") <=> col("neg_label")))
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        cosine(col("qv"), col("cv")).as("sim"))
    topKPerQuery(joined, k, "neg_label")
  }

  /** Multi-table LSH ANN top-k: candidates collide in at least one of
    * `tables` hyperplane hash tables; exact cosine ranks the candidates.
    * Shuffle cost: corpus × tables bucket entries (ids + vectors), never a
    * cross join.
    *
    * `probes > 1` = multi-probe LSH on the query side (buckets within the
    * smallest XOR masks of the query's own bucket, Hamming-weight order):
    * recall grows without growing the corpus index. `probes = 2^planes`
    * probes every bucket — provably exhaustive, so the output equals exact
    * brute-force top-k; the correctness gate runs in that mode against the
    * DuckDB exact-cosine oracle while ScalaTest gates recall of the
    * approximate settings.
    *
    * The (query, neighbor) dedup of multi-table collisions runs AFTER the
    * cosine projection, so the dedup exchange carries (ids, sim) only —
    * never the embedding arrays (at 100 TB the vectors would dominate the
    * shuffle payload).
    */
  def lshTopK(
      queries: DataFrame, // (id, vec)
      corpus: DataFrame, // (id, vec)
      k: Int,
      planes: Int = 4,
      tables: Int = 8,
      probes: Int = 1,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      explode(graft.functions.text.hyperplaneKeys(col("vec"), planes, tables)).as("key"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      explode(graft.functions.text.hyperplaneKeys(col("vec"), planes, tables, probes)).as("key"))
    val joined = c.join(q, Seq("key"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
    topKPerQuery(joined, k)
  }

  /** IVF (inverted-file) ANN: corpus vectors partition into Voronoi cells
    * of `nCentroids` centroids (deterministically sampled from the corpus,
    * refined with one Lloyd iteration); queries probe their `nprobe`
    * nearest cells. The centroid set is tiny metadata (nCentroids × dim
    * doubles) broadcast inside an expression; the corpus shuffles once by
    * cell id — the classic IVF trade: recall vs cells probed.
    */
  /** Train (and return) IVF centroids: deterministic seeds + one Lloyd
    * refinement over a bounded distributed sample. The result is tiny
    * reusable metadata (nCentroids × dim doubles) — train once, pass to
    * repeated [[ivfTopK]] calls so the corpus isn't rescanned per query
    * batch. Sampling is per-row hash thresholding (no global sort → no
    * single-partition limit funnel); correctness never depends on WHICH
    * rows are sampled — any centroid set yields exact per-cell results,
    * the sample only tunes recall.
    */
  def trainCentroids(
      corpus: DataFrame, // (id, vec)
      nCentroids: Int = 16,
      maxRefineVectors: Int = 50000,
      seed: Long = 7L
  ): Array[Array[Double]] = {
    import graft.functions.text
    // seed vectors: hash-ordered top-nCentroids — a small limit, so Spark
    // plans TakeOrderedAndProject (per-partition top-k + driver merge)
    val seedRows = corpus
      .withColumn("__h", xxhash64(col("id")))
      .orderBy("__h").limit(nCentroids)
      .select("vec").collect()
    require(seedRows.nonEmpty, "trainCentroids requires a non-empty corpus")
    val seeds = seedRows.map(_.getSeq[Double](0).toArray)
    val sample = refinementSample(corpus, maxRefineVectors, seed)
    val assigned0 = sample.select(col("id"), col("vec"),
      text.nearestCentroid(col("vec"), seeds).as("cell"))
    val refined = assigned0.groupBy("cell")
      .agg(collect_list(col("vec")).as("vs"))
      .select(col("cell"),
        expr("transform(sequence(0, size(vs[0]) - 1), i -> aggregate(vs, 0D, (acc, v) -> acc + v[i]) / size(vs))").as("centroid"))
      .orderBy("cell").collect()
    val m = refined.map(r => r.getLong(0).toInt -> r.getSeq[Double](1).toArray).toMap
    (0 until nCentroids).map(i => m.getOrElse(i, seeds(math.min(i, seeds.length - 1)))).toArray
  }

  /** Bounded distributed sample for the Lloyd refinement: per-row hash
    * thresholding (a narrow filter — no global sort, no single-partition
    * limit funnel). Cap is in expectation, which is all the mean needs.
    */
  private[graft] def refinementSample(corpus: DataFrame, maxRefineVectors: Int, seed: Long): DataFrame = {
    val n = corpus.count()
    if (n <= maxRefineVectors) corpus.select(col("id"), col("vec"))
    else {
      val keepPerMillion = math.max(1L,
        (maxRefineVectors.toDouble / n * 1000000).toLong)
      corpus.select(col("id"), col("vec"))
        .where(pmod(xxhash64(col("id"), lit(seed)), lit(1000000L)) < lit(keepPerMillion))
    }
  }

  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nprobe: Int = 4,
      excludeSelf: Boolean = true,
      centroids: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    import graft.functions.text
    val cents = centroids.getOrElse(trainCentroids(corpus, nCentroids))

    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      text.nearestCentroid(col("vec"), cents).as("cell"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      explode(text.nearestCentroids(col("vec"), cents, nprobe)).as("cell"))
    val joined = c.join(q, Seq("cell"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
    topKPerQuery(joined, k)
  }

  /** Product-quantization model (Jégou, Douze, Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): per-subspace codebooks,
    * `codebooks(sub)(code)` = centroid of length `dim / m`. Tiny reusable
    * metadata (m × ksub × dsub doubles) — train once, encode and query
    * forever without rescanning the corpus.
    */
  final case class PqModel(dim: Int, m: Int, codebooks: Array[Array[Array[Double]]]) {
    def dsub: Int = dim / m
    def ksub: Int = codebooks(0).length
    /** Flat |centroid|² table, `sub * ksub + code` layout (ADC denominator). */
    lazy val normSqFlat: Array[Double] = {
      val out = new Array[Double](m * ksub)
      var sub = 0
      while (sub < m) {
        var code = 0
        while (code < ksub) {
          out(sub * ksub + code) = codebooks(sub)(code).map(x => x * x).sum
          code += 1
        }
        sub += 1
      }
      out
    }
    /** Per-query dot-product lookup table: lut[sub*ksub+code] = dot(q_sub, centroid). */
    def dotLut(q: Array[Double]): Array[Double] = {
      val out = new Array[Double](m * ksub)
      var sub = 0
      while (sub < m) {
        val off = sub * dsub
        var code = 0
        while (code < ksub) {
          val c = codebooks(sub)(code)
          var dot = 0.0
          var i = 0
          while (i < dsub) { dot += q(off + i) * c(i); i += 1 }
          out(sub * ksub + code) = dot
          code += 1
        }
        sub += 1
      }
      out
    }
  }

  /** Train PQ codebooks: one pass explodes a bounded distributed sample
    * into (subspace, subvector) rows; seeds are the hash-ordered top-ksub
    * DISTINCT subvectors per subspace, refined with one Lloyd iteration
    * (L2 assignment via [[graft.functions.text.pqEncode]]-style argmin in
    * a closure expression, means distributed per (sub, code) group). All
    * driver materialization is bounded metadata: m × ksub centroids, never
    * corpus rows. 4 bounded actions total, independent of corpus size.
    *
    * Losslessness property the correctness gate exploits: when a subspace
    * has ≤ ksub distinct subvectors, every one becomes its own seed, each
    * Lloyd group is a single distinct value, and reconstruction is EXACT —
    * so ADC scoring equals exact cosine and PQ top-k equals brute-force
    * top-k. If a subspace has fewer distinct subvectors than ksub the
    * codebook pads with copies of the last seed (strict-less argmin means
    * padded duplicates are never selected).
    *
    * PRECONDITION for the lossless gate mode: training sees the whole
    * corpus, i.e. corpus rows &lt;= maxSampleVectors. Beyond that the
    * training sample cannot cover every distinct subvector, so "ksub ≥
    * distinct subvectors ⇒ exact reconstruction" no longer holds — raise
    * maxSampleVectors (or pre-sample yourself) when exactness is intended
    * at larger corpus sizes; production ANN use is approximate anyway.
    */
  def trainPq(
      corpus: DataFrame, // (id, vec)
      m: Int = 8,
      ksub: Int = 256,
      maxSampleVectors: Int = 50000,
      seed: Long = 7L
  ): PqModel = {
    import graft.functions.text
    val dim = corpus.select(size(col("vec"))).first().getInt(0)
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val dsub = dim / m
    val sample = refinementSample(corpus, maxSampleVectors, seed)
    val subs = sample.select(posexplode(expr(
      s"transform(sequence(0, ${m - 1}), s -> slice(vec, s * $dsub + 1, $dsub))"))
      .as(Seq("sub", "sv")))
    // seeds: deterministic hash order over DISTINCT subvectors (ties by the
    // subvector itself — arrays are orderable — so the seed set and its
    // code numbering are reproducible across runs and partitionings)
    val w = Window.partitionBy(col("sub")).orderBy(col("__h"), col("sv"))
    val seedRows = subs.distinct()
      .withColumn("__h", xxhash64(col("sub"), col("sv")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= ksub)
      .select("sub", "rn", "sv").collect()
    val bySub = seedRows.groupBy(_.getInt(0))
    val seeds: Array[Array[Array[Double]]] = Array.tabulate(m) { sub =>
      val rows = bySub.getOrElse(sub, Array.empty)
        .sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      require(rows.nonEmpty, s"subspace $sub has no training subvectors")
      if (rows.length >= ksub) rows.take(ksub)
      else rows ++ Array.fill(ksub - rows.length)(rows.last) // pad: never selected (strict-less argmin)
    }
    // one Lloyd iteration: distributed L2 assignment (seeds ride the task
    // closure) + per-(sub, code) means. Groups are bounded by the sample.
    // collect_list order is partition-dependent and the double fold is
    // order-sensitive in final ulps — array_sort pins a canonical
    // summation order so trained centroids are bit-identical across
    // partitionings/cluster sizes.
    val means = subs
      .select(col("sub"), text.pqSubEncode(col("sub"), col("sv"), seeds).as("code"), col("sv"))
      .groupBy("sub", "code")
      .agg(array_sort(collect_list(col("sv"))).as("vs"))
      .select(col("sub"), col("code"), expr(
        "transform(sequence(0, size(vs[0]) - 1), i -> aggregate(vs, 0D, (acc, v) -> acc + v[i]) / size(vs))")
        .as("c"))
      .collect()
    val refined = seeds.map(_.clone())
    means.foreach { r =>
      refined(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    PqModel(dim, m, refined)
  }

  /** PQ ANN top-k via asymmetric distance (ADC). The corpus side encodes
    * to `m` small ints in the scan stage and the embedding never leaves
    * it; per-query dot-product tables broadcast with the (bounded, like
    * [[bruteForceTopK]]) query side and are projected away before the
    * ranking shuffle — the only data that crosses an exchange is
    * (query_id, neighbor_id, sim). At 100 TB this is the memory-bound ANN
    * tier: 8 code bytes per corpus vector instead of 512 embedding bytes,
    * scored with m table lookups per (query, vector).
    *
    * Correctness gate: with a lossless model (ksub ≥ distinct subvectors,
    * see [[trainPq]]) ADC equals exact cosine, so the output EQUALS exact
    * brute-force top-k and the DuckDB exact-cosine oracle pins the whole
    * pipeline — training, encoding, LUT scoring, ranking. Compression-mode
    * recall (ksub ≪ corpus) is ScalaTest-gated.
    */
  def pqTopK(
      queries: DataFrame, // (id, vec)
      corpus: DataFrame, // (id, vec)
      k: Int,
      m: Int = 8,
      ksub: Int = 256,
      excludeSelf: Boolean = true,
      model: Option[PqModel] = None
  ): DataFrame = {
    import graft.functions.text
    val pq = model.getOrElse(trainPq(corpus, m, ksub))
    val session = corpus.sparkSession
    import session.implicits._
    // bounded |Q| (documented small-query-batch tier, like bruteForceTopK):
    // LUTs are |Q| × m × ksub doubles of driver-built broadcast metadata
    val qRows = queries.select(col("id"), col("vec")).collect()
    val luts = qRows.map { r =>
      val q = r.getSeq[Double](1).toArray
      (r.getLong(0), pq.dotLut(q), math.sqrt(q.map(x => x * x).sum))
    }.toSeq
    val q = broadcast(luts.toDF("query_id", "dot_lut", "q_norm"))
    val c = corpus.select(col("id").as("neighbor_id"),
      text.pqEncode(col("vec"), pq.codebooks).as("codes"))
    val joined = c.join(q,
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        text.pqAdc(col("codes"), col("dot_lut"), col("q_norm"), pq.normSqFlat, pq.ksub).as("sim"))
    topKPerQuery(joined, k)
  }

  /** IVF + PQ composition (IVFADC, Jégou, Douze & Schmid 2011 §IV): the
    * coarse quantizer prunes the scan to the query's `nprobe` of
    * `nCentroids` cells, and ADC scores the survivors on their `m`-byte
    * codes — the scan tier and the memory tier compose, which is the
    * standard billion-vector ANN layout ([[ivfTopK]] alone still reads
    * raw vectors; [[pqTopK]] alone still scans the whole corpus). At
    * 100 TB: corpus-side state is (cell, m codes) per vector, the
    * cell equi-join replaces the all-pairs condition, and per-probed-cell
    * work is |cell| LUT lookups — total scan cost nprobe/nCentroids of
    * the PQ tier's.
    *
    * Correctness gate mode (the [[pqTopK]]/[[ivfTopK]] convention):
    * nCentroids = 1 + nprobe = 1 makes the cell join exhaustive and a
    * lossless codebook (ksub ≥ distinct subvectors) makes ADC exact, so
    * the output EQUALS brute-force top-k and the exact-cosine oracle
    * pins coarse assignment, encoding, LUT scoring and ranking together.
    * Compression/pruning-mode recall is ScalaTest-gated.
    *
    * Each corpus vector lives in exactly ONE cell, so probing distinct
    * cells can never produce duplicate (query, neighbor) candidates — no
    * dedup stage exists. Query batches are bounded ([[bruteForceTopK]]'s
    * documented tier): LUTs are |Q| × m × ksub doubles of broadcast
    * metadata. Output: (query_id, neighbor_id, rank).
    */
  def ivfPqTopK(
      queries: DataFrame, // (id, vec)
      corpus: DataFrame, // (id, vec)
      k: Int,
      nCentroids: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      ksub: Int = 256,
      excludeSelf: Boolean = true,
      centroids: Option[Array[Array[Double]]] = None,
      model: Option[PqModel] = None
  ): DataFrame = {
    import graft.functions.text
    val cents = centroids.getOrElse(trainCentroids(corpus, nCentroids))
    val pq = model.getOrElse(trainPq(corpus, m, ksub))
    val session = corpus.sparkSession
    import session.implicits._
    val qProj = queries.select(col("id"), col("vec"))
    val qRows = qProj.collect()
    val luts = qRows.map { r =>
      val q = r.getSeq[Double](1).toArray
      (r.getLong(0), pq.dotLut(q), math.sqrt(q.map(x => x * x).sum))
    }.toSeq
    // single-read rule (the pqTopK/ivfTopK convention): qRows is the ONLY
    // evaluation of `queries` — the probed-cell frame is rebuilt from the
    // collected rows as a local relation, so a nondeterministic query
    // frame (sample/limit without order) cannot produce two different id
    // sets whose mismatch the query_id join would silently drop. Probed
    // cells still come from the SAME nearestCentroids expression the
    // corpus assignment uses (tie-break parity by construction).
    val qLocal = session.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qProj.schema)
    val qCells = qLocal.select(col("id").as("query_id"),
      explode(text.nearestCentroids(col("vec"), cents, nprobe)).as("cell"))
    val qSide = broadcast(
      qCells.join(luts.toDF("query_id", "dot_lut", "q_norm"), "query_id"))
    val c = corpus.select(col("id").as("neighbor_id"),
      text.nearestCentroid(col("vec"), cents).as("cell"),
      text.pqEncode(col("vec"), pq.codebooks).as("codes"))
    val joined = c.join(qSide, Seq("cell"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        text.pqAdc(col("codes"), col("dot_lut"), col("q_norm"),
          pq.normSqFlat, pq.ksub).as("sim"))
    topKPerQuery(joined, k)
  }

  /** Scalar int8 quantization of an embedding corpus: per-vector
    * [min, max] range + 8-bit codes — the middle tier of the ANN memory
    * ladder (raw doubles 8 B/dim, int8 1 B/dim, PQ m bytes/vector).
    * Unlike PQ it needs NO training and reconstruction error is bounded
    * per element by span/510, so it is the default at-rest format for an
    * embedding corpus; [[dequantizeInt8]] restores approximate vectors
    * for any downstream operator. A zero-shuffle projection either way.
    * Output: (id, codes, vmin, vmax).
    */
  def quantizeInt8(corpus: DataFrame): DataFrame = {
    import graft.functions.text
    corpus
      .select(col("id"), col("vec"),
        array_min(col("vec")).as("vmin"), array_max(col("vec")).as("vmax"))
      .select(col("id"),
        text.scaleToInt8(col("vec"), col("vmin"), col("vmax")).as("codes"),
        col("vmin"), col("vmax"))
  }

  /** Inverse of [[quantizeInt8]] (midpoint reconstruction): vec_i ≈
    * vmin + code_i · (vmax − vmin) / 255. Output: (id, vec).
    */
  def dequantizeInt8(quantized: DataFrame): DataFrame =
    quantized.select(col("id"),
      transform(col("codes"),
        c => col("vmin") + c.cast("double") * (col("vmax") - col("vmin")) / 255.0)
        .as("vec"))

  /** SSL-prototypes data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning"): assign
    * every embedding to its nearest k-means centroid, score how
    * prototypical it is (cosine to the assigned centroid), and per cell
    * keep the HARD `keepFrac` — the paper's result is that dropping the
    * most prototypical (easiest) examples first beats random pruning when
    * data is abundant.
    *
    * Scale shape: centroid assignment is a zero-shuffle projection
    * (centroids ride the task closure); the per-cell centroid lookup is a
    * broadcast join (nCentroids rows); ranking is one shuffle to cells +
    * in-cell sort. Cells are the unit of parallelism — size nCentroids so
    * cells fit an executor's sort budget (the paper uses ~100k cells at
    * web scale). Ties (identical cosine) break by id, so output is
    * deterministic.
    *
    * Output: (id, cell, proto_sim, rank, n_cell, keep) — rank 1 = most
    * prototypical in its cell; keep = the hardest keepFrac.
    */
  def prototypicality(corpus: DataFrame, vecCol: String, idCol: String,
      nCentroids: Int = 1024, keepFrac: Double = 0.7,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1, "keepFrac must be in (0, 1]")
    import graft.functions.text
    val e = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cents = centroids.getOrElse(trainCentroids(e, nCentroids))
    val session = corpus.sparkSession
    import session.implicits._
    val centDf = broadcast(
      cents.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("cell", "centroid"))
    val assigned = e.select(col("id"), col("vec"),
      text.nearestCentroid(col("vec"), cents).as("cell"))
    val scored = assigned.join(centDf, "cell")
      .select(col("cell"), col("id"),
        text.cosineSim(col("vec"), col("centroid")).as("proto_sim"))
    val byProto = Window.partitionBy("cell")
      .orderBy(col("proto_sim").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(byProto))
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy("cell")))
      .withColumn("keep",
        col("rank") > floor(lit(1.0 - keepFrac) * col("n_cell")))
      .select("id", "cell", "proto_sim", "rank", "n_cell", "keep")
  }

  /** Margin-based pair mining (Artetxe & Schwenk's absolute-margin
    * criterion): for each query vector, its best corpus match is accepted
    * only when it beats the SECOND-best by at least `minMargin` — raw
    * nearest-neighbor thresholds over-fire in dense regions where
    * everything is close and under-fire in sparse ones; the margin against
    * the runner-up is the density-normalized signal that made web-scale
    * bitext mining (CCMatrix-class) precise. Same use here for any
    * cross-corpus alignment: translation pairs, near-caption matches,
    * code-docstring linking.
    *
    * Scores are raw dot products in an in-order fold — feed NORMALIZED
    * embeddings (dot = cosine) or integer-valued quantized codes (exact
    * arithmetic below 2^53, engine-replayable margins — the [[kCenterSelect]]
    * determinism convention; the gate runs this mode). Scale shape =
    * [[bruteForceTopK]]: the query side broadcasts, the corpus side
    * streams (never materializes), one (query) key exchange ranks the
    * top 2; for corpora where brute force is too wide, pre-bucket with
    * [[lshTopK]]/[[ivfTopK]] and margin-filter their candidates instead.
    *
    * Output: (query_id, neighbor_id, dot, runner_up, margin) — one row
    * per query whose margin clears the bar; queries with fewer than 2
    * candidates are dropped (no runner-up → no calibrated margin).
    */
  def marginPairs(queries: DataFrame, corpus: DataFrame, minMargin: Long,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x).cast("long").as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= 2)
      .groupBy(col("query_id"))
      .agg(
        max(when(col("rank") === 1, col("neighbor_id"))).as("neighbor_id"),
        max(when(col("rank") === 1, col("dot"))).as("dot"),
        max(when(col("rank") === 2, col("dot"))).as("runner_up"))
      .where(col("runner_up").isNotNull &&
        col("dot") - col("runner_up") >= minMargin)
      .select(col("query_id"), col("neighbor_id"), col("dot"),
        col("runner_up"), (col("dot") - col("runner_up")).as("margin"))
  }

  /** Greedy k-center (farthest-point-first, Gonzalez 1985) coreset
    * selection: pick `k` maximally-diverse exemplars — each round adds the
    * point FARTHEST from everything already selected. The classic
    * diversity-pruning complement to [[prototypicality]] (which keeps the
    * DENSE core of each cell, k-center keeps the spread: a 2-approximation
    * of the optimal covering radius), used to seed labeling budgets,
    * curriculum anchors, and eval probes from a 100 TB corpus.
    *
    * Determinism contract: the caller names the first center (`firstId` —
    * no RNG), squared L2 runs as an in-order fold over the dims, and the
    * per-round argmax tie-breaks (distance desc, id asc). Feed
    * INTEGER-VALUED vectors (e.g. [[quantizeInt8]] codes cast to double)
    * and every distance is exact — partial sums stay integers below 2^53,
    * so the selection replays bit-for-bit in any engine; float vectors
    * select validly but the argmax near float-ties is engine-specific.
    *
    * Scale shape: centers live on the DRIVER (k × d doubles — model-sized,
    * like [[trainCentroids]]' codebook); round r is ONE stateless scan
    * computing min-over-r-centers distance per row (the centers ride the
    * closure as literals, no join, no shuffle) topped by a
    * TakeOrderedAndProject(1) — no iterative lineage, no per-round
    * node-sized state to checkpoint, at the price of Σr = k²/2 distance
    * evals per row total. Right for the label-budget k regime (≤ a few
    * hundred); for k beyond that, partition the corpus with
    * [[trainCentroids]]/IVF cells first and run k-center per cell.
    *
    * Output: (rank, id, radius_sq) — rank 0 is `firstId` with radius 0;
    * radius_sq of rank r is the chosen point's squared distance to its
    * nearest earlier center (the coverage radius before round r, a
    * monotone non-increasing curve worth plotting before picking k).
    * If k exceeds the number of DISTINCT points, selection stops early
    * (fewer than k rows, never a duplicate center): once the max radius
    * is 0 the corpus is covered exactly. A `firstId` absent from the
    * corpus is an IllegalArgumentException, not a NoSuchElement surprise.
    */
  def kCenterSelect(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, firstId: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec")).persist()
    def d2To(center: Array[Double]): Column =
      aggregate(
        zip_with(col("vec"), array(center.map(lit).toSeq: _*),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
    val firstRow = base.where(col("id") === firstId).select("vec").take(1).headOption
      .getOrElse {
        base.unpersist()
        throw new IllegalArgumentException(
          s"kCenterSelect: firstId=$firstId not found in the corpus")
      }
    var centers = Vector(firstRow.getSeq[Double](0).toArray)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]((0L, firstId, 0L))
    var r = 1
    var covered = false // max radius hit 0: every remaining point IS a center
    while (r < k && !covered) {
      val dmin = centers.map(d2To).reduce(least(_, _))
      val top = base
        .select(col("id"), col("vec"), dmin.cast("long").as("md"))
        .orderBy(col("md").desc, col("id").asc).limit(1).head()
      if (top.getLong(2) == 0L) {
        // k exceeds the number of distinct points: the farthest remaining
        // point is distance 0 from an existing center, and selecting it
        // would emit a duplicate — stop with the < k centers that cover
        // the corpus exactly (radius 0) rather than padding with repeats
        covered = true
      } else {
        out += ((r.toLong, top.getLong(0), top.getLong(2)))
        centers :+= top.getSeq[Double](1).toArray
        r += 1
      }
    }
    base.unpersist()
    import spark.implicits._
    out.toSeq.toDF("rank", "id", "radius_sq")
  }

  /** Maximal-Marginal-Relevance selection (Carbonell & Goldstein 1998):
    * greedily pick `k` items maximizing
    *
    *   λ·sim(item, query) − (1−λ)·max sim(item, already-selected)
    *
    * — the diversity-aware cousin of plain top-k. Top-k near a query
    * returns k copies of the same neighborhood; MMR returns the
    * neighborhood's SPREAD: the demonstration-selection rule for few-shot
    * prompting, dedup-aware retrieval, and "diverse exemplars per
    * cluster" curation. λ = 1 degenerates to exact top-k (tested law);
    * λ = 0 is pure anti-similarity INCLUDING the first pick (every
    * round-1 score is 0, so the seed falls to the smallest id — seed
    * explicitly, or use [[kCenterSelect]] for metric-coverage
    * semantics with a chosen first center).
    *
    * Same loop shape as [[kCenterSelect]]: the corpus persists once with
    * its query relevance precomputed; each of k rounds is ONE
    * TakeOrderedAndProject(1) job scoring every candidate against the
    * selected set via a greatest(...)-chain over broadcast center
    * literals — no per-round node-sized state, no checkpoint lineage, at
    * the price of Σr = k²/2 sim evals per row. Right for the few-shot /
    * exemplar k regime (≤ a few hundred); beyond that, pre-trim the
    * corpus to an ANN candidate pool ([[ivfTopK]] with a generous k)
    * first — MMR only ever promotes items with some relevance, so a
    * relevance-pool cut loses nothing but the anti-neighborhood tail.
    *
    * The per-round argmax compares scores on the MICRO-UNIT grid
    * (floor(score·10⁶)): candidates within 1e-6 are defined as tied and
    * break toward the smaller id, so the selection is deterministic AND
    * replays across engines (the DuckDB oracle's recursive-CTE greedy) —
    * raw-double argmaxes would let an ulps-level divergence in one round
    * compound through every later round. First pick (empty selected set)
    * scores the diversity term as 0, the common convention.
    *
    * Output: (rank, id) — rank 1..k in selection order. Fewer than k
    * rows when the corpus runs out.
    */
  def mmrSelect(corpus: DataFrame, vecCol: String, idCol: String,
      queryVec: Array[Double], k: Int, lambdaPermille: Int = 500): DataFrame = {
    require(k >= 1 && k <= 512, "k must be in [1, 512] (greedy driver loop)")
    // the real envelope is k·dim, not k: the last round's greatest()-chain
    // embeds every selected vector as per-element literals, so the
    // expression tree holds ~k·dim literal nodes — past ~32k that risks
    // janino/codegen failure and pathological planning time (512 picks are
    // fine at dim 64, 42 at dim 768; pre-trim + smaller k beyond)
    require(k.toLong * queryVec.length <= 32768,
      s"k*dim = ${k.toLong * queryVec.length} exceeds 32768: the greedy " +
        "scorer inlines k*dim vector literals into one expression tree; " +
        "lower k or reduce dimensionality (e.g. PCA) first")
    require(lambdaPermille >= 0 && lambdaPermille <= 1000,
      "lambdaPermille must be in [0, 1000]")
    val spark = corpus.sparkSession
    val lam = lambdaPermille / 1000.0
    val qLit = array(queryVec.map(lit).toSeq: _*)
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .withColumn("rel", cosine(col("vec"), qLit))
      .persist()
    def simTo(center: Array[Double]): Column =
      cosine(col("vec"), array(center.map(lit).toSeq: _*))
    var selected = Vector.empty[(Long, Array[Double])]
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val diversity =
        if (selected.isEmpty) lit(0.0)
        else selected.map { case (_, v) => simTo(v) }.reduce(greatest(_, _))
      // argmax on the MICRO-UNIT grid (the integer-contract discipline):
      // floor(score·10⁶) before the compare, so a cross-engine replay
      // (the DuckDB oracle's recursive greedy) agrees on every pick
      // whenever the engines' doubles differ only in final ulps AWAY from
      // a 1e-6 grid boundary — candidates within 1e-6 are DEFINED as tied
      // (id breaks), which is what stops near-tie divergence in round r
      // compounding through all later rounds. The quantization is a
      // massive reduction, not an absolute guarantee: a score whose exact
      // value sits within ulps of a grid line can still floor differently
      // across engines (no finite grid closes that; a fully integer score
      // would, but rel/diversity are cosines and inherently float here).
      val score = floor((col("rel") * lam - diversity * (1.0 - lam)) * 1e6)
        .cast("long")
      val picked = base
        .where(if (selected.isEmpty) lit(true)
          else !col("id").isin(selected.map(_._1): _*))
        .select(col("id"), col("vec"), score.as("s"))
        .orderBy(col("s").desc, col("id").asc).limit(1).take(1)
      picked.headOption match {
        case Some(row) =>
          out += ((r.toLong, row.getLong(0)))
          selected :+= ((row.getLong(0), row.getSeq[Double](1).toArray))
          r += 1
        case None => exhausted = true
      }
    }
    base.unpersist()
    import spark.implicits._
    out.toSeq.toDF("rank", "id")
  }

  /** Neighbor-disagreement label-noise detection (confident-learning
    * lite, the k-NN tier of Cleanlab-style auditing): an item whose k
    * nearest embedding neighbors vote a DIFFERENT majority label is a
    * probable mislabel — the classifier-free complement of
    * [[graft.ops.Embeddings.centroidOutliers]] (centroid distance sees
    * far-from-class outliers; neighbor votes see items sitting INSIDE
    * another class's region). Majority ties break toward the smallest
    * label (the [[graft.ops.Curation.decontaminateEmbedding]] numeric-id
    * contract — labels must be numeric); `flagged` requires the majority
    * to both differ from the item's own label AND reach `minAgree` votes
    * (a 2-2-1 split is not evidence).
    *
    * Tiering: the (vecCol, k) convenience overload runs on
    * [[bruteForceTopK]] (exact; corpus × broadcast-queries — the
    * decision-grade gate mode). At corpus scale feed the NEIGHBORS
    * overload any `(query_id, neighbor_id, rank)` candidate frame —
    * [[lshTopK]], [[ivfTopK]], [[pqTopK]] and the brute tier all emit
    * exactly that shape — and the same vote runs unchanged (the
    * PropertySpec law pins IVF-exhaustive votes == brute votes). The
    * vote itself is one partial-aggregated groupBy(query, label) + one
    * max-struct argmax — no window over the neighbor lists.
    *
    * Output: (idCol, labelCol, majority_label, n_majority, n_neighbors,
    * flagged).
    */
  def labelNoiseByNeighbors(items: DataFrame, vecCol: String, idCol: String,
      labelCol: String, k: Int = 5, minAgree: Long = 3L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(minAgree >= 1, "minAgree must be >= 1")
    val base = items.select(col(idCol).as("id"), col(vecCol).as("vec"))
    labelNoiseByNeighbors(items,
      bruteForceTopK(base, base, k), idCol, labelCol, minAgree)
  }

  /** Candidate-frame form of [[labelNoiseByNeighbors]]: the vote logic
    * over ANY precomputed neighbor list — `neighbors` is a
    * `(query_id, neighbor_id, rank)` frame (rank is positional audit
    * data; the vote weighs every listed neighbor equally), the shape
    * every top-k tier here emits. This is the 100 TB path: generate
    * candidates once with [[ivfTopK]]/[[lshTopK]]/[[pqTopK]] (or reuse a
    * frame an ANN job already produced) and vote without an N×N scan.
    * Neighbor ids absent from `items` contribute no vote (a filtered or
    * unlabeled corpus side drops out silently — n_neighbors counts only
    * LABELED voters); items with no surviving neighbors emit no row.
    * Self-pairs (query_id == neighbor_id, e.g. from a tier run with
    * excludeSelf=false) are dropped before the vote — an item's own label
    * must never vote for itself, which would suppress `flagged`.
    */
  def labelNoiseByNeighbors(items: DataFrame, neighbors: DataFrame,
      idCol: String, labelCol: String, minAgree: Long): DataFrame = {
    require(minAgree >= 1, "minAgree must be >= 1")
    val base = items.select(col(idCol).as("id"), col(labelCol).as("label"))
    val votes = neighbors.select(col("query_id"), col("neighbor_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(base.select(col("id").as("neighbor_id"), col("label").as("nl")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("nl")).agg(count(lit(1)).as("c"))
    val maj = votes.groupBy(col("query_id"))
      .agg(max(struct(col("c"), (-col("nl")).as("nn"))).as("m"),
        sum(col("c")).as("n_neighbors"))
      .select(col("query_id").as("id"), (-col("m.nn")).as("majority_label"),
        col("m.c").as("n_majority"), col("n_neighbors"))
    base.join(maj, Seq("id"))
      .select(col("id").as(idCol), col("label").as(labelCol),
        col("majority_label"), col("n_majority"), col("n_neighbors"),
        (col("majority_label") =!= col("label") &&
          col("n_majority") >= minAgree).as("flagged"))
  }
}
