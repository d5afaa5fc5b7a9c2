package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.exact.{cosPermille, normSq, quantized}
import graft.functions.text.wordsOf

/** Large-scale deduplication operators for training-data pipelines.
  *
  * All operators are expressed as shuffle-minimal DataFrame plans:
  *   - exact dedup: one hash-partitioned aggregation on a uniform digest key
  *     (no skew by construction — digests are uniform), map-side combine on.
  *   - MinHash LSH: per-row signature computation is narrow (one pass over
  *     shingles, md5 shingle hashes); the only shuffle is the
  *     band-bucket self-join, whose key cardinality (bands × buckets) and
  *     per-bucket size are tunable; oversized buckets are capped to bound
  *     worst-case quadratic pair expansion (documented skew guard).
  *   - n-gram Jaccard verification joins only candidate pairs, never the
  *     full cross product.
  *
  * At 100 TB: signatures are ~numHashes×8 bytes/doc (vs the document text),
  * so the shuffle volume is signatures + ids, not corpus bytes.
  */
object Dedup {

  /** Exact content dedup: keep the smallest `idCol` per distinct content
    * digest. Digest-first grouping keeps the shuffle key small and uniform.
    */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.withColumn("__digest", md5(col(contentCol)))
      .groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop("__digest")

  /** Duplicate-cluster size histogram — the dedup-aggressiveness audit a
    * curation run reads before committing: for each exact-duplicate
    * multiplicity `dup_count`, how many content groups have exactly that
    * many copies, how many documents those groups hold, and how many the
    * dedup would remove (`(dup_count − 1) × n_groups`). A corpus whose
    * mass sits in the 1-bin is already clean; a fat tail bin is the
    * boilerplate signature worth inspecting before deleting.
    *
    * Scale: digest aggregation identical to [[exact]] (uniform 16-byte
    * key, map-side combine), then a second partial-aggregated rollup over
    * group-sized rows — the histogram exchange is at most #distinct-
    * multiplicities rows.
    */
  def dupSizeHistogram(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.withColumn("__digest", md5(col(contentCol)))
      .groupBy(col("__digest"))
      .agg(count(lit(1)).as("dup_count"))
      .groupBy(col("dup_count"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("dup_count"), col("n_groups"),
        (col("dup_count") * col("n_groups")).as("n_docs"),
        ((col("dup_count") - 1) * col("n_groups")).as("n_removable"))

  /** Word shingles: lowercase, whitespace-tokenize, sliding n-grams.
    * Pure codegen'd HOFs — no UDF, no extra parse.
    */
  def shingles(textCol: Column, n: Int): Column = {
    val tokens = wordsOf(textCol)
    when(size(tokens) < n, array(concat_ws(" ", tokens)))
      .otherwise(
        transform(
          sequence(lit(0), size(tokens) - n),
          i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))
  }

  /** MinHash signature + band buckets in one single-pass expression
    * (graft.functions.text.MinHashExpr): O(shingles × hashes) per row,
    * computed exactly once regardless of how many band columns reference it.
    */
  def minhashSigAndBuckets(textCol: Column, shingleLen: Int, numHashes: Int, bands: Int): Column =
    graft.functions.text.minhash(wordsOf(textCol), shingleLen, numHashes, bands)

  /** Skew guard shared by the banded-LSH candidate generators: keep only
    * (band, bucket) groups of size ≤ maxBucket (a bucket of size m yields
    * m² pairs; at corpus scale one degenerate bucket — empty docs, boiler-
    * plate — would otherwise dominate the stage). Dropped-bucket members
    * still pair through their other bands. Implemented as groupBy-count +
    * same-key inner join rather than a window count: no per-bucket sort,
    * and the count side is tiny (one row per bucket) so AQE can broadcast.
    */
  private[graft] def capBuckets(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded // guard disabled: skip the count stage
    else {
      val sizes = banded.groupBy(keys.map(col): _*).count()
        .filter(col("count") <= maxBucket).drop("count")
      banded.join(sizes, keys)
    }

  /** A chosen MinHash-LSH banding: `bands * rowsPerBand` signature
    * components, candidate-probability curve
    * `p(s) = 1 - (1 - s^rowsPerBand)^bands` (Leskovec/Rajaraman/Ullman,
    * MMDS ch. 3), S-curve midpoint ~ `(1/bands)^(1/rowsPerBand)`.
    */
  final case class LshPlan(bands: Int, rowsPerBand: Int) {
    /** probability a pair with true Jaccard `s` becomes a candidate */
    def candidateProb(s: Double): Double =
      1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)
    /** the similarity where the S-curve crosses its steep midpoint */
    def threshold: Double = math.pow(1.0 / bands, 1.0 / rowsPerBand)
  }

  /** Pick (bands, rowsPerBand) for a target Jaccard threshold: among
    * exact divisor pairs of `numHashes`, the banding whose S-curve
    * midpoint `(1/b)^(1/r)` lands closest to `targetJaccard` — the MMDS
    * tuning rule. Ties (and near-ties within 1e-9) break toward MORE
    * bands (smaller rows-per-band): a shallower curve on the high side,
    * i.e. better recall at the target at the cost of more candidates —
    * the right default when the verify step is cheap relative to a miss.
    * Feed the result straight into [[minhashCandidates]]'s
    * (numHashes, bands); pure driver arithmetic, no data touched.
    */
  def lshPlan(numHashes: Int, targetJaccard: Double): LshPlan = {
    require(numHashes >= 1, "numHashes must be >= 1")
    require(targetJaccard > 0.0 && targetJaccard < 1.0,
      "targetJaccard must be in (0, 1)")
    val options = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => LshPlan(b, numHashes / b))
    options.minBy(p => (math.round(math.abs(p.threshold - targetJaccard) * 1e9), -p.bands))
  }

  /** Candidate near-duplicate pairs via banded LSH.
    *
    * @param bands      number of LSH bands; rows = numHashes / bands.
    * @param maxBucket  skew guard: buckets larger than this are dropped
    *                   (see [[capBuckets]]).
    * Output: (idA, idB, est_jaccard) with idA < idB, distinct. Candidates
    * are pairs whose signatures agree on a FULL band (the bucket join is a
    * pre-filter on the band hash; the slice-equality filter removes the
    * residual 64-bit hash-collision false positives). With the skew guard
    * disabled (maxBucket = Int.MaxValue) the semantics are exactly
    * "∃ band with identical signature rows" — the form the DuckDB oracle
    * mirrors; with a finite maxBucket, pairs meeting only in oversized
    * buckets are traded away for the bounded worst case.
    */
  def minhashCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 64
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands

    val sigs = df.select(
      col(idCol).as("id"),
      minhashSigAndBuckets(col(textCol), shingleLen, numHashes, bands).as("mh"))

    val banded = sigs.select(
      col("id"), col("mh.sig").as("sig"),
      posexplode(col("mh.buckets")).as(Seq("band", "bucket")))

    val bucketed = capBuckets(banded, Seq("band", "bucket"), maxBucket)

    val a = bucketed.select(col("band"), col("bucket"), col("id").as("idA"), col("sig").as("sigA"))
    val b = bucketed.select(col("band"), col("bucket"), col("id").as("idB"), col("sig").as("sigB"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("idA") < col("idB"))
      .filter(fullBandEq(col("sigA"), col("sigB"), col("band"), rows))
      .select(col("idA"), col("idB"),
        estJaccard(col("sigA"), col("sigB"), numHashes).as("est_jaccard"))
      .dropDuplicates("idA", "idB")
  }

  /** Full-band signature equality (the residual-collision check behind the
    * bucket-hash pre-filter) — shared by the full and incremental paths so
    * the tested equivalence law can't drift.
    */
  private[graft] def fullBandEq(sigA: Column, sigB: Column, band: Column, rows: Int): Column =
    slice(sigA, band * rows + 1, lit(rows)) === slice(sigB, band * rows + 1, lit(rows))

  /** Estimated Jaccard = fraction of agreeing signature components. */
  private def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => (x === y).cast("int")),
      v => v === 1)) / lit(numHashes.toDouble)

  /** Cross-corpus exact dedup with source priority: when the same content
    * appears in several corpora (Wikipedia inside Common Crawl, a books
    * set inside a web dump), keep ONE copy — from the most-trusted source.
    * `corpora` is (sourceName, frame) in priority order (index 0 wins);
    * within a source, ties break to the smallest id. Returns every input
    * row tagged `(source, id, keep, winner_source, winner_id)` so callers
    * can either filter `keep` or audit the overlap matrix.
    *
    * Scale shape: one union (no data movement), one hash-partitioned
    * aggregation on the 16-byte digest (uniform key — no skew by
    * construction), one digest equi-join back. Text never enters the
    * exchange: the winner table carries (digest, priority, id) only.
    * Chain [[graft.ops.TextAnalysis.normalizeText]] into `contentCol`
    * upstream when cosmetic variants should collapse.
    */
  def crossCorpusDedup(corpora: Seq[(String, DataFrame)], contentCol: String,
      idCol: String): DataFrame = {
    require(corpora.nonEmpty, "need at least one corpus")
    require(corpora.map(_._1).distinct.length == corpora.length,
      "source names must be unique")
    val tagged = corpora.zipWithIndex.map { case ((name, df), pri) =>
      df.select(lit(name).as("source"), lit(pri).as("__pri"),
        col(idCol).as("id"), md5(col(contentCol)).as("__digest"))
    }.reduce(_.unionByName(_))
    // winner per digest = min (priority, id) — a struct-min aggregation,
    // partially aggregated map-side like any min
    val winners = tagged
      .groupBy("__digest")
      .agg(min(struct(col("__pri"), col("id"), col("source"))).as("w"))
      .select(col("__digest"), col("w.source").as("winner_source"),
        col("w.id").as("winner_id"), col("w.__pri").as("__wpri"))
    tagged.join(winners, "__digest")
      .select(col("source"), col("id"),
        (col("__pri") === col("__wpri") && col("id") === col("winner_id"))
          .as("keep"),
        col("winner_source"), col("winner_id"))
  }

  // ---- Incremental (delta-vs-corpus) dedup — continuous ingestion ----
  //
  // At 100 TB you never re-dedupe the whole corpus per ingest: build a
  // persistable index once (digests for exact, banded signatures for
  // near-dup), then each new batch joins ONLY the delta against it. Index
  // size is independent of document bytes (~24 B/doc exact, ~0.5 KB/doc
  // minhash), so it lives as a bucketed parquet table co-partitioned on
  // the join key across ingests.

  /** Persistable exact-dedup index: one row per distinct content digest
    * with its canonical (min-id) representative.
    */
  def exactIndex(corpus: DataFrame, contentCol: String, idCol: String): DataFrame =
    corpus.select(md5(col(contentCol)).as("digest"), col(idCol).as("corpus_id"))
      .groupBy("digest").agg(min("corpus_id").as("corpus_id"))

  /** Dedup a new batch against an existing [[exactIndex]] and within
    * itself, in one pass. Output per batch row: `dup_of_corpus` (the
    * corpus representative it duplicates, null if novel),
    * `first_in_batch`, and the final `keep` decision (novel AND first).
    *
    * Scale shape: both joins key on the 16-byte digest (uniform — skew
    * impossible); batch text dies at the scan. The index side arrives
    * pre-aggregated, so AQE broadcasts it when small and shuffle-joins by
    * digest when not; a bucketed index table makes the join co-located.
    */
  def incrementalExact(batch: DataFrame, index: DataFrame,
      contentCol: String, idCol: String): DataFrame = {
    val b = batch.select(col(idCol).as("id"), md5(col(contentCol)).as("digest"))
    val firstIn = b.groupBy("digest").agg(min("id").as("first_id"))
    b.join(firstIn, "digest")
      .join(index, Seq("digest"), "left")
      .select(col("id"), col("corpus_id").as("dup_of_corpus"),
        (col("id") === col("first_id")).as("first_in_batch"),
        (col("corpus_id").isNull && col("id") === col("first_id")).as("keep"))
  }

  /** Persistable minhash LSH index: the banded-bucket entries frame plus
    * the shingle/hash/band parameters that produced it, which the
    * incremental path reads from here. Persist `entries` as a bucketed
    * table; reconstruct the wrapper with the same parameters on load.
    */
  final case class MinhashIndex(entries: DataFrame, shingleLen: Int,
      numHashes: Int, bands: Int)

  /** Build a [[MinhashIndex]] over the corpus — the near-dup analog of
    * [[exactIndex]]. Entries: (corpus_id, sig, band, bucket), bands rows
    * per doc.
    */
  def minhashIndex(corpus: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 3, numHashes: Int = 64, bands: Int = 16): MinhashIndex = {
    val entries = corpus.select(col(idCol).as("corpus_id"),
      minhashSigAndBuckets(col(textCol), shingleLen, numHashes, bands).as("mh"))
      .select(col("corpus_id"), col("mh.sig").as("sig"),
        posexplode(col("mh.buckets")).as(Seq("band", "bucket")))
    MinhashIndex(entries, shingleLen, numHashes, bands)
  }

  /** Near-duplicate candidates of a new batch against a prebuilt
    * [[MinhashIndex]] — same full-band-equality semantics as
    * [[minhashCandidates]] (shared [[fullBandEq]]/[[estJaccard]]
    * expressions; the batch side hashes with the index's own parameters),
    * but the join partner is the index, so cost scales with delta size ×
    * bucket hit rate, never with the corpus.
    * Output: (batch_id, corpus_id, est_jaccard), distinct.
    */
  def incrementalMinhashCandidates(batch: DataFrame, index: MinhashIndex,
      textCol: String, idCol: String, maxBucket: Int = 64): DataFrame = {
    require(index.numHashes % index.bands == 0, "numHashes must be divisible by bands")
    val rows = index.numHashes / index.bands
    val b = batch.select(col(idCol).as("batch_id"),
      minhashSigAndBuckets(col(textCol), index.shingleLen, index.numHashes,
        index.bands).as("mh"))
      .select(col("batch_id"), col("mh.sig").as("sigB"),
        posexplode(col("mh.buckets")).as(Seq("band", "bucket")))
    val idx = capBuckets(index.entries, Seq("band", "bucket"), maxBucket)
      .select(col("band"), col("bucket"), col("corpus_id"), col("sig").as("sigA"))
    b.join(idx, Seq("band", "bucket"))
      .filter(fullBandEq(col("sigA"), col("sigB"), col("band"), rows))
      .select(col("batch_id"), col("corpus_id"),
        estJaccard(col("sigA"), col("sigB"), index.numHashes).as("est_jaccard"))
      .dropDuplicates("batch_id", "corpus_id")
  }

  /** Persistable SimHash index — the SimHash analog of [[MinhashIndex]],
    * completing the incremental family (exact + minhash + simhash). One
    * 8-byte fingerprint + 4 banded 16-bit chunk keys per document.
    */
  final case class SimhashIndex(entries: DataFrame)

  /** The 4 16-bit band chunks of a 64-bit simhash — shared by the full
    * generator and the incremental index so their banding can never drift.
    */
  private[graft] def simhashBandCols(fp: Column): Column =
    transform(sequence(lit(0), lit(3)),
      b => call_function("shiftright", fp, (lit(16) * b).cast("int")).bitwiseAND(lit(0xffffL)))

  /** Build a [[SimhashIndex]] over the corpus: entries
    * `(corpus_id, simhash, band, chunk)`, 4 rows per doc. Persist
    * `entries` bucketed on (band, chunk) for co-located delta joins.
    */
  def simhashIndex(corpus: DataFrame, textCol: String, idCol: String): SimhashIndex = {
    val entries = simhash(corpus, textCol, idCol)
      .select(col("id").as("corpus_id"), col("simhash"),
        posexplode(simhashBandCols(col("simhash"))).as(Seq("band", "chunk")))
    SimhashIndex(entries)
  }

  /** Near-dup candidates of a new batch against a prebuilt
    * [[SimhashIndex]] — same chunk-equality banding and Hamming filter as
    * [[simhashCandidates]] (shared band expression), but the join partner
    * is the index, so cost scales with delta size × bucket hit rate,
    * never corpus size. Output: (batch_id, corpus_id, hamming), distinct.
    */
  def incrementalSimhashCandidates(batch: DataFrame, index: SimhashIndex,
      textCol: String, idCol: String, maxDist: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    val b = simhash(batch, textCol, idCol)
      .select(col("id").as("batch_id"), col("simhash").as("fpB"),
        posexplode(simhashBandCols(col("simhash"))).as(Seq("band", "chunk")))
    val idx = capBuckets(index.entries, Seq("band", "chunk"), maxBucket)
      .select(col("band"), col("chunk"), col("corpus_id"), col("simhash").as("fpA"))
    b.join(idx, Seq("band", "chunk"))
      .select(col("batch_id"), col("corpus_id"),
        bit_count(col("fpB").bitwiseXOR(col("fpA"))).as("hamming"))
      .dropDuplicates("batch_id", "corpus_id")
      .filter(col("hamming") <= maxDist)
  }

  /** A persistable embedding dedup index: hyperplane-LSH bucket entries
    * with PRE-QUANTIZED vectors and squared norms, plus the geometry
    * (planes/tables/quantScale) carried alongside so probes can never hash
    * or quantize differently than the build did — the [[MinhashIndex]]
    * param-capture contract.
    */
  final case class EmbedIndex(entries: DataFrame, planes: Int, tables: Int,
      quantScale: Long)

  /** Build the EMBEDDING tier of the incremental index family
    * ([[exactIndex]] verbatim, [[minhashIndex]] lexical, [[simhashIndex]]
    * bitwise; this one semantic): one (key, index_id, vec_micro,
    * nsq_micro2) row per vector per hash table. Quantization and the
    * squared norm are paid ONCE at build, so later probes score each
    * collision with a single integer dot product. Write `entries`
    * bucketed by `key` ([[graft.ops.Tables]] writers) and every delta
    * probe becomes a zero-exchange bucket join. At rest the index is
    * `tables`× vector storage — tune `tables` down, or index PCA-reduced
    * vectors ([[graft.ops.Embeddings.project]]), when storage dominates.
    */
  def embedIndex(corpus: DataFrame, vecCol: String, idCol: String,
      planes: Int = 4, tables: Int = 8,
      quantScale: Long = 1000000L): EmbedIndex = {
    val entries = corpus
      .select(col(idCol).as("index_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .select(col("index_id"), col("__v"), quantized(col("__v"), quantScale).as("vec_micro"))
      .select(col("index_id"), col("__v"), col("vec_micro"), normSq(col("vec_micro")).as("nsq_micro2"))
      .select(col("index_id"), col("vec_micro"), col("nsq_micro2"),
        explode(graft.functions.text.hyperplaneKeys(col("__v"), planes, tables))
          .as("key"))
    EmbedIndex(entries, planes, tables, quantScale)
  }

  /** Semantic near-dup candidates of a new batch against a prebuilt
    * [[embedIndex]]: batch vectors hash into the same hyperplane buckets
    * (multi-probe on the BATCH side — `probes = 2^planes` probes every
    * bucket, making candidates provably complete through even a single
    * table; the gate runs there so the all-pairs oracle pins bucketing,
    * collision, scoring, and threshold, while production probes ≪
    * 2^planes trade recall for delta-sized cost), collide with index
    * entries, and survivors score by INTEGER cosine — micro-quantized
    * dots and norms with the repo's fixed-order IEEE tail, so the
    * permille values and the threshold decision replay bit-for-bit.
    *
    * Scale shape: cost ∝ delta size × bucket hit rate, never corpus
    * size. Quantized arrays and norms are staged in projections BELOW
    * each side's key explode (computed once per vector, not once per
    * key), so a collision costs exactly one zip/aggregate dot; the
    * multi-table (batch, index) dedup aggregates AFTER the cosine
    * projection, so only ids+scalar ride its exchange — vectors stay in
    * the scan/join stage (the [[graft.ops.Similarity.lshTopK]] payload
    * rule). Mismatched-dimension pairs drop (null-propagating zip).
    * Output: (batch_id, index_id, cos_permille), distinct pairs at
    * `minCosPermille`+.
    */
  def incrementalEmbedCandidates(batch: DataFrame, index: EmbedIndex,
      vecCol: String, idCol: String, minCosPermille: Long,
      probes: Int = 1): DataFrame = {
    require(minCosPermille >= 0 && minCosPermille <= 1000,
      "minCosPermille must be in [0, 1000]")
    val b = batch
      .select(col(idCol).as("batch_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .select(col("batch_id"), col("__v"), quantized(col("__v"), index.quantScale).as("qm"))
      .select(col("batch_id"), col("__v"), col("qm"), normSq(col("qm")).as("qnsq"))
      .select(col("batch_id"), col("qm"), col("qnsq"),
        explode(graft.functions.text.hyperplaneKeys(col("__v"), index.planes,
          index.tables, probes)).as("key"))
    val scored = index.entries.join(b, Seq("key"))
      .select(col("batch_id"), col("index_id"),
        when(col("qnsq") > 0 && col("nsq_micro2") > 0,
          cosPermille(col("qm"), col("qnsq"), col("vec_micro"), col("nsq_micro2")))
          .otherwise(lit(0L)).as("cos_permille"))
      .where(col("cos_permille") >= minCosPermille)
    scored.groupBy("batch_id", "index_id")
      .agg(max(col("cos_permille")).as("cos_permille"))
  }

  /** Bucket-size histogram of a persisted index's entries — the health
    * probe to run BEFORE pointing a delta at any bucketed index
    * ([[minhashIndex]]'s (band, bucket), [[simhashIndex]]'s (band,
    * chunk), [[embedIndex]]'s key): per-probe cost is the hit bucket's
    * size, so a skewed histogram (a few giant buckets from boilerplate /
    * constant payloads) predicts exactly the hot probes the `maxBucket`
    * caps exist to bound — this is the report that tells you what to SET
    * `maxBucket` to, instead of guessing. The index-side sibling of
    * [[clusterStats]] (same histogram reduction, buckets instead of
    * clusters).
    *
    * Two partial-aggregated exchanges (keys → sizes, sizes → histogram);
    * output is one row per DISTINCT bucket size — log-scale small
    * regardless of index size. Output: (bucket_size, n_buckets,
    * n_entries), n_entries = bucket_size × n_buckets (the probe-mass
    * column: Σ over rows = index entries).
    */
  def indexStats(entries: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    entries.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("__sz")).as("n_entries"))
  }

  /** Deterministic precision audit of a candidate-pair generator: sample
    * `samplePermille`‰ of the pairs by a portable hash of (idA, idB) —
    * reproducible across engines/reruns, unlike `sample()` — verify each
    * sampled pair with exact n-gram Jaccard, and report one row:
    * `(n_sampled, n_true, precision_permille)`, where true means
    * `1000·|∩| ≥ minJaccardPermille·|∪|` (integer cross-multiply — no
    * float at the decision boundary). This is how LSH settings (bands,
    * maxBucket, threshold) get validated on the real corpus without
    * verifying every candidate: cost is samplePermille × candidate count,
    * and only the sampled pairs' texts are ever joined.
    */
  def auditCandidates(pairs: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, minJaccardPermille: Int, samplePermille: Int = 100,
      n: Int = 1, seed: String = "graft-audit"): DataFrame = {
    require(samplePermille > 0 && samplePermille <= 1000,
      "samplePermille must be in (0, 1000]")
    require(minJaccardPermille >= 0 && minJaccardPermille <= 1000,
      "minJaccardPermille must be in [0, 1000]")
    val sampled = pairs.where(
      pmod(Curation.portableHash31(
        concat_ws("|", col("idA"), col("idB")), seed), lit(1000L)) < samplePermille)
    ngramJaccard(sampled, docs, textCol, idCol, n)
      .agg(count(lit(1)).as("n_sampled"),
        sum(when(lit(1000L) * col("n_common") >= lit(minJaccardPermille.toLong) * col("n_union"), 1L)
          .otherwise(0L)).as("n_true"))
      .select(col("n_sampled"), col("n_true"),
        call_function("div", lit(1000L) * col("n_true"), col("n_sampled"))
          .as("precision_permille"))
  }

  /** Deterministic RECALL audit of a candidate-pair generator — the
    * complement of [[auditCandidates]] (which measures precision): sample
    * `samplePermille`‰ of the DOCUMENTS by portable id-hash, compute the
    * complete ground-truth pair set among the sampled docs with the EXACT
    * prefix-filtered join ([[jaccardJoin]] — provably complete, never
    * all-pairs), and report how many truth pairs the generator's `pairs`
    * actually contains: `(n_truth, n_found, recall_permille)`.
    *
    * This closes the tuning loop [[lshPlan]] opens: the S-curve predicts
    * recall from assumed similarity; this measures it on the real corpus.
    * Sampling DOCS (not pairs) is forced — recall needs the full truth
    * set over a closed universe, and a pair sample can't see pairs the
    * generator missed. A doc-sample at rate p retains ~p² of the true
    * pairs, so size `samplePermille` to the corpus dup rate (sparse dups
    * need a larger sample for a tight interval); the truth join's cost is
    * quadratic only in the SAMPLE and still prefix-filtered within it.
    * Candidate orientation is normalized (least/greatest), so generators
    * emitting either (idA < idB) or both directions audit identically.
    */
  def auditRecall(pairs: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, minJaccardPermille: Int, samplePermille: Int = 100,
      shingleLen: Int = 1, seed: String = "graft-recall"): DataFrame = {
    require(samplePermille > 0 && samplePermille <= 1000,
      "samplePermille must be in (0, 1000]")
    val sampledDocs = docs.where(
      pmod(Curation.portableHash31(col(idCol), seed), lit(1000L)) < samplePermille)
    val truth = jaccardJoin(sampledDocs, textCol, idCol, minJaccardPermille, shingleLen)
      .select("idA", "idB")
    val cand = pairs.select(
        least(col("idA"), col("idB")).as("idA"),
        greatest(col("idA"), col("idB")).as("idB"))
      .dropDuplicates("idA", "idB").withColumn("__f", lit(1L))
    truth.join(cand, Seq("idA", "idB"), "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__f"), lit(0L))).as("n_found"))
      .select(col("n_truth"), col("n_found"),
        call_function("div", lit(1000L) * col("n_found"),
          greatest(col("n_truth"), lit(1L))).as("recall_permille"))
  }

  /** Corpus-level MinHash signature: the element-wise minimum of every
    * document's signature, i.e. the MinHash signature of the UNION of all
    * documents' shingle sets (min over a union = min of per-set minima).
    * One narrow scan + a 64-row partial aggregation — the whole corpus
    * reduces to `numHashes` longs, so two 100 TB snapshots can be compared
    * without ever joining them. Signatures are mergeable: the signature of
    * `A ∪ B` is the element-wise min of the signatures of `A` and `B`
    * (law-tested), so per-partition/per-day signatures can be kept and
    * folded. Output: (hash_idx: 0..numHashes-1, minv).
    */
  def corpusSignature(df: DataFrame, textCol: String, shingleLen: Int = 3,
      numHashes: Int = 64): DataFrame =
    df.select(minhashSigAndBuckets(col(textCol), shingleLen, numHashes,
        bands = 1).getField("sig").as("sig"))
      .select(posexplode(col("sig")).as(Seq("hash_idx", "minv")))
      .groupBy("hash_idx").agg(min("minv").as("minv"))

  /** Estimated Jaccard overlap between two corpora from their
    * [[corpusSignature]]s: the fraction of agreeing components estimates
    * J(A, B) with standard error ~ 1/sqrt(numHashes). Join cardinality is
    * numHashes rows — a constant — so this composes with signatures
    * persisted per snapshot. Output: one row per hash component
    * (hash_idx, min_a, min_b, is_match); aggregate with
    * [[corpusOverlapEstimate]] for the scalar estimate.
    */
  def corpusOverlap(sigA: DataFrame, sigB: DataFrame): DataFrame =
    sigA.select(col("hash_idx"), col("minv").as("min_a"))
      .join(sigB.select(col("hash_idx"), col("minv").as("min_b")), Seq("hash_idx"))
      .select(col("hash_idx"), col("min_a"), col("min_b"),
        when(col("min_a") === col("min_b"), 1).otherwise(0).as("is_match"))

  /** Scalar overlap estimate from [[corpusOverlap]] rows — integer
    * per-mille so the value is engine-portable. */
  def corpusOverlapEstimate(overlap: DataFrame): DataFrame =
    overlap.agg(
      count(lit(1)).as("num_hashes"),
      sum(col("is_match")).as("matches"),
      call_function("div", lit(1000L) * sum(col("is_match")), count(lit(1)))
        .as("est_jaccard_permille"))

  /** Exact n-gram Jaccard for a pair frame (verification stage after LSH,
    * or bounded ad-hoc comparison). Returns integer |∩| and |∪| so results
    * are exactly comparable across engines.
    */
  def ngramJaccard(
      pairs: DataFrame, // (idA, idB)
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 1
  ): DataFrame = {
    val grams = docs.select(
      col(idCol).as("__id"),
      // one-pass expression; semantics identical to
      // array_distinct(split/shingles) but ~100× cheaper than the
      // interpreted HOF chain (see WordNgramsExpr)
      graft.functions.text.wordNgrams(col(textCol), n, distinct = true).as("__grams"))
    pairs
      .join(grams.withColumnRenamed("__id", "idA").withColumnRenamed("__grams", "gramsA"), "idA")
      .join(grams.withColumnRenamed("__id", "idB").withColumnRenamed("__grams", "gramsB"), "idB")
      .select(col("idA"), col("idB"),
        size(array_intersect(col("gramsA"), col("gramsB"))).as("n_common"),
        size(array_union(col("gramsA"), col("gramsB"))).as("n_union"))
  }

  /** EXACT set-similarity self-join via prefix filtering (Chaudhuri/
    * Ganti/Kaushik 2006; Bayardo/Ma/Srikant 2007 AllPairs; Xiao et al.
    * 2008 PPJoin): every unordered pair of docs whose distinct word
    * n-gram sets have Jaccard >= `minJaccardPermille`/1000 — no hashing,
    * no approximation, yet never all-pairs. The deterministic complement
    * to [[minhashCandidates]]: use THIS when the contract is "find every
    * pair, exactly" (dedup audits, legal/compliance sweeps, oracle
    * construction) and MinHash when a bounded false-negative rate buys a
    * cheaper exchange on billion-doc corpora.
    *
    * Completeness argument (the prefix-filter theorem): under ANY one
    * global total order on tokens, J(a,b) >= t implies the overlap
    * o >= t*|a| (from o(1+t) >= t(|a|+|b|) and |b| >= o), so the first
    * |a| - ceil(t*|a|) + 1 tokens of a — its PREFIX — must contain a
    * common token with b's prefix, else all >= ceil(t*max(|a|,|b|))
    * common tokens would have to fit in suffixes too short to hold them.
    * Candidates = equi-join on prefix tokens only. The order used is
    * ascending global document frequency (rare tokens first, ties by
    * token text), which makes prefixes maximally selective — the order
    * affects only the candidate count, never the answer, since every
    * candidate is verified with an exact intersection. The PPJoin length
    * filter (|b|*1000 >= t*|a| both ways) prunes inside the join.
    *
    * Scale shape: one vocabulary-sized df aggregate (partial, map-side),
    * one per-doc rank window keyed by id, a candidate equi-join on
    * prefix tokens (selective BY CONSTRUCTION — prefixes are the rare
    * tokens; `maxBucket` guards boilerplate-token floods, trading
    * completeness in capped buckets like every banded generator), and a
    * verify join carrying the token arrays (doc-sized payload — for long
    * documents shingle first, or use the MinHash family). Gate mode
    * (`ns_jaccard_join`) runs maxBucket = unbounded so output == the
    * DuckDB all-pairs oracle.
    *
    * Output: (idA, idB, n_common, n_union), idA < idB, distinct.
    */
  def jaccardJoin(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minJaccardPermille: Int,
      shingleLen: Int = 3,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    require(minJaccardPermille >= 1 && minJaccardPermille <= 1000,
      "minJaccardPermille must be in [1, 1000]")
    val tp = minJaccardPermille.toLong
    val toks = df.select(col(idCol).as("__id"),
        graft.functions.text.wordNgrams(col(textCol), shingleLen, distinct = true).as("__toks"))
      .withColumn("__n", size(col("__toks")))
    val exploded = toks.select(col("__id"), col("__n"), explode(col("__toks")).as("__tok"))
    val dfreq = exploded.groupBy("__tok").agg(count(lit(1)).as("__df"))
    // prefix length |a| - ceil(t*|a|) + 1 under the (df, token) order
    val ceilT = call_function("div", lit(tp) * col("__n") + lit(999L), lit(1000L))
    val pfx = exploded.join(dfreq, "__tok")
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("__tok"))))
      .where(col("__rk") <= col("__n") - ceilT + lit(1L))
      .select(col("__tok"), col("__id"), col("__n"))
    val capped = capBuckets(pfx, Seq("__tok"), maxBucket)
    val a = capped.select(col("__tok"), col("__id").as("idA"), col("__n").as("__na"))
    val b = capped.select(col("__tok"), col("__id").as("idB"), col("__n").as("__nb"))
    val cands = a.join(b, Seq("__tok"))
      .where(col("idA") < col("idB") &&
        col("__nb") * 1000L >= lit(tp) * col("__na") &&
        col("__na") * 1000L >= lit(tp) * col("__nb"))
      .select("idA", "idB").dropDuplicates("idA", "idB")
    val sets = toks.select(col("__id"), col("__toks"), col("__n"))
    cands
      .join(sets.select(col("__id").as("idA"), col("__toks").as("__ta"), col("__n").as("__na")), "idA")
      .join(sets.select(col("__id").as("idB"), col("__toks").as("__tb"), col("__n").as("__nb")), "idB")
      .withColumn("n_common", size(array_intersect(col("__ta"), col("__tb"))))
      .withColumn("n_union", col("__na") + col("__nb") - col("n_common"))
      .where(col("n_common").cast("long") * 1000L >= lit(tp) * col("n_union").cast("long"))
      .select(col("idA"), col("idB"), col("n_common"), col("n_union"))
  }

  /** EXACT asymmetric set-containment self-join: every ORDERED pair
    * (sub, sup), sub != sup, with containment
    * C(sub -> sup) = |T_sub ∩ T_sup| / |T_sub| >= `minContainPermille`/1000
    * over distinct word n-gram sets. The directional complement to
    * [[jaccardJoin]]: symmetric Jaccard misses a short document embedded
    * verbatim inside a much longer one (J shrinks with the length gap;
    * C(short -> long) stays 1.0), which is exactly the quote / wrapped-
    * boilerplate / subset-record shape a dedup sweep must catch.
    *
    * Prefix filter, containment form: C >= t forces overlap
    * o >= ceil(t*|sub|), so if sup shares NO token with sub's first
    * |sub| - ceil(t*|sub|) + 1 tokens (ascending-df order), the common
    * tokens would all have to fit in sub's suffix of ceil(t*|sub|) - 1
    * slots — impossible. Unlike the symmetric join, sup cannot be
    * prefix-filtered (containment puts no upper bound on |sup|), so
    * candidates = sub's PREFIX tokens equi-joined against sup's FULL
    * posting lists — the honest cost of a one-sided predicate, same
    * exchange as an inverted-index build. df-ordering keeps sub prefixes
    * on the rare tokens; `maxBucket` caps a token's sup-side posting
    * list (boilerplate tokens), trading completeness only inside capped
    * buckets. The one admissible length filter is |sup| >= t*|sub|
    * (o <= |sup| always).
    *
    * Output: (idSub, idSup, n_common, n_sub), one row per satisfied
    * DIRECTION (mutual 100% containment = identical sets = two rows).
    */
  def containmentJoin(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minContainPermille: Int,
      shingleLen: Int = 3,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    require(minContainPermille >= 1 && minContainPermille <= 1000,
      "minContainPermille must be in [1, 1000]")
    val tp = minContainPermille.toLong
    val toks = df.select(col(idCol).as("__id"),
        graft.functions.text.wordNgrams(col(textCol), shingleLen, distinct = true).as("__toks"))
      .withColumn("__n", size(col("__toks")))
    val exploded = toks.select(col("__id"), col("__n"), explode(col("__toks")).as("__tok"))
    val dfreq = exploded.groupBy("__tok").agg(count(lit(1)).as("__df"))
    val ceilT = call_function("div", lit(tp) * col("__n") + lit(999L), lit(1000L))
    val sub = exploded.join(dfreq, "__tok")
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("__tok"))))
      .where(col("__rk") <= col("__n") - ceilT + lit(1L))
      .select(col("__tok"), col("__id").as("idSub"), col("__n").as("__ns"))
    // sup side: FULL posting lists, capped per token (the scale guard)
    val sup = capBuckets(
      exploded.select(col("__tok"), col("__id").as("idSup"), col("__n").as("__np")),
      Seq("__tok"), maxBucket)
    val cands = sub.join(sup, Seq("__tok"))
      .where(col("idSub") =!= col("idSup") &&
        col("__np") * 1000L >= lit(tp) * col("__ns"))
      .select("idSub", "idSup").dropDuplicates("idSub", "idSup")
    val sets = toks.select(col("__id"), col("__toks"), col("__n"))
    cands
      .join(sets.select(col("__id").as("idSub"), col("__toks").as("__ta"), col("__n").as("n_sub")), "idSub")
      .join(sets.select(col("__id").as("idSup"), col("__toks").as("__tb")), "idSup")
      .withColumn("n_common", size(array_intersect(col("__ta"), col("__tb"))))
      .where(col("n_common").cast("long") * 1000L >= lit(tp) * col("n_sub").cast("long"))
      .select(col("idSub"), col("idSup"), col("n_common"), col("n_sub"))
  }

  /** Shared-substring candidate pairs via winnowing fingerprints (the
    * MOSS construction, Schleimer et al. 2003): docs sharing at least
    * `minShared` selected k-gram hashes are candidates for containing
    * common character substrings — the scalable approximation of exact
    * substring dedup (Lee et al. 2022), since winnowing guarantees any
    * shared run longer than k+w-1 chars selects at least one common
    * fingerprint. Join key = fingerprint (uniform by construction);
    * ubiquitous k-grams (boilerplate) form hot buckets, capped by the same
    * `maxBucket` guard as the other banded generators.
    *
    * Output: (idA, idB, n_shared) with idA < idB; with the guard disabled
    * n_shared = |fingerprint-set intersection| exactly (fingerprint sets
    * are distinct per doc), which the DuckDB oracle recomputes.
    */
  def fingerprintCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      w: Int = 4,
      minShared: Int = 3,
      maxBucket: Int = 64
  ): DataFrame = {
    // fps materializes below the explode (sibling-of-generator expressions
    // re-evaluate per exploded row — see WordNgramsExpr notes)
    val fps = df.select(col(idCol).as("id"),
      graft.functions.text.winnowFingerprint(col(textCol), k, w).as("fps"))
    val exploded = fps.select(col("id"), explode(col("fps")).as("fp"))
    val capped = capBuckets(exploded, Seq("fp"), maxBucket)
    val a = capped.select(col("fp"), col("id").as("idA"))
    val b = capped.select(col("fp"), col("id").as("idB"))
    a.join(b, Seq("fp"))
      .filter(col("idA") < col("idB"))
      .groupBy(col("idA"), col("idB"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash near-dup fingerprint (64-bit): per-token 64-bit hashes vote on
    * each bit; the sign of the vote sum sets the bit. One narrow pass via
    * the SimHash64 expression (see graft.functions); near-dups are pairs
    * with small Hamming distance, found by banding the fingerprint into
    * 16-bit chunks (any equal chunk → candidate).
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.text.simhash64(wordsOf(col(textCol))).as("simhash"))

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH bucket join
    * (any of `tables` tables) followed by exact cosine ≥ threshold —
    * semantic dedup over an embedding column without a cross join.
    * Input: (idCol, vecCol: array<double>).
    */
  def embeddingCandidates(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      planes: Int = 6,
      tables: Int = 6,
      probes: Int = 1
  ): DataFrame = {
    import graft.functions.text
    val keyed = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      explode(text.hyperplaneKeys(col(vecCol), planes, tables)).as("key"))
    // multi-probe on one side only (probing both sides would double-count
    // the flip distance); probes = 2^planes makes the join exhaustive,
    // which the correctness gate uses on a bounded corpus.
    val probed =
      if (probes == 1) keyed
      else df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        explode(text.hyperplaneKeys(col(vecCol), planes, tables, probes)).as("key"))
    val a = probed.select(col("key"), col("id").as("idA"), col("vec").as("vecA"))
    val b = keyed.select(col("key"), col("id").as("idB"), col("vec").as("vecB"))
    a.join(b, Seq("key"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), text.cosineSim(col("vecA"), col("vecB")).as("cos_sim"))
      .dropDuplicates("idA", "idB")
      .filter(col("cos_sim") >= threshold)
  }

  /** Type-agnostic convergence fingerprint of a frame's (a, b) rows for the
    * connected-components loops: xor-folded row hashes work for
    * string/negative/any-typed ids (a plain sum would break on non-numeric
    * ids; summing hashes overflows under ANSI; xor is order-independent and
    * overflow-free). 0 on an empty frame.
    */
  private def fingerprint(a: String, b: String): Column =
    coalesce(bit_xor(xxhash64(col(a), col(b))), lit(0L))

  /** Connected components over an undirected pair frame (idA, idB) —
    * the clustering step that turns verified near-dup pairs into dedup
    * groups. Iterative min-label propagation: each round, every node takes
    * the minimum component label among itself and its neighbors; converges
    * in O(cluster diameter) rounds (near-dup clusters are shallow — two
    * docs are linked through at most a few intermediates), each round one
    * shuffle keyed by node id. Convergence is detected by a fingerprint of
    * the labels, probed in the round's checkpoint job (no row-level diff
    * join). For
    * graphs with deep chains swap in the big-star/small-star variant
    * (Kiveris et al., "Connected Components in MapReduce"); the API is the
    * same.
    *
    * Output: (id, component) for every id appearing in `pairs`, where
    * component = the minimum id reachable. The returned frame is a LOCAL
    * CHECKPOINT (lineage truncated — recomputing would otherwise replay
    * the whole loop; non-reliable storage, so on a real cluster executor
    * loss after the call means re-running the operator): its blocks are
    * collected by the ContextCleaner once the frame is unreferenced —
    * plain `.unpersist()` does NOT touch checkpoint blocks.
    * Superseded per-round frames are released inside the loop.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("idA").as("a"), col("idB").as("b"))
      .union(pairs.select(col("idB").as("a"), col("idA").as("b")))
      .cache()
    // labels only ever decrease, so the (id, component) set changes iff
    // any label changed: the fingerprint detects convergence
    var (labels, probe) = Rounds.checkpoint(
      edges.select(col("a").as("id")).distinct().withColumn("component", col("id")),
      count(lit(1)), fingerprint("id", "component"))
    var iter = 0
    var converged = probe.getLong(0) == 0L // empty pair graph: nothing to propagate
    var prevFp = probe.getLong(1)
    while (!converged && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels.select(col("id").as("b"), col("component")), "b")
        .select(col("a").as("id"), col("component"))
      // each round references `labels` TWICE (the union and the join), so
      // the logical plan doubles per round — the loop-lineage rule: cache
      // does NOT truncate lineage, checkpoint does. Without this, round
      // r's plan carries 2^r copies of the pair-generation subtree, and
      // merely RENDERING it (explainString for the SQL listener fires on
      // every action, UI on or off) allocates geometrically — the 100×
      // ScaleProbe run OOMed the driver exactly there.
      val (next, fp) = Rounds.advance(Seq(labels),
        labels.union(viaNeighbors)
          .groupBy("id").agg(min(col("component")).as("component")),
        fingerprint("id", "component"))
      val nextFp = fp.getLong(0)
      labels = next
      converged = nextFp == prevFp
      prevFp = nextFp
      iter += 1
    }
    edges.unpersist()
    // an unconverged exit would silently split clusters (far ends of a
    // deep chain keep non-minimal labels) — refuse instead
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          "(cluster diameter exceeds maxIter): raise maxIter or use a " +
          "star-contraction variant for deep-chain graphs")
    labels
  }

  /** Two-phase star connected components (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): alternate
    *
    *   large-star — every node u connects its strictly-LARGER neighbors to
    *     the minimum of its closed neighborhood min(Γ(u) ∪ u);
    *   small-star — edges oriented (larger → smaller); every node u
    *     re-points its smaller neighbors (and itself) at their minimum;
    *
    * until the edge set is stable, at which point every edge is a direct
    * (node → component-minimum) star edge. Both phases preserve
    * connectivity and strictly shrink reachable labels, so the fixed point
    * is exact min-reachable CC — same contract as
    * [[connectedComponents]] — but convergence takes O(log n) rounds on
    * ANY graph shape versus label propagation's O(diameter): a 1M-node
    * chain needs ~20 star rounds, not 1M. Per round: two groupBy-min
    * aggregations and two key joins, all on edge-sized frames of ids only.
    *
    * Preference: this variant for unknown/deep topology (the 100 TB
    * default via [[clusterAssignments]]); label propagation remains the
    * cheaper per-round choice when clusters are known-shallow (near-dup
    * graphs with bounded chain length).
    *
    * Returned frame is cached; `.unpersist()` it once consumed.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsStarWithRounds(pairs, maxIter)._1

  /** [[connectedComponentsStar]] plus the executed round count (exposed for
    * the convergence-rate test: rounds must stay ~log n on chains).
    */
  private[graft] def connectedComponentsStarWithRounds(
      pairs: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    val nodes = pairs.select(col("idA").as("id"))
      .union(pairs.select(col("idB").as("id"))).distinct().cache()
    // canonical (larger a, smaller b), self-loops dropped, deduped: the
    // star operations are neighborhood-set operations, multiplicity only
    // costs shuffle bytes
    var (e, probe) = Rounds.checkpoint(
      pairs.select(greatest(col("idA"), col("idB")).as("a"),
          least(col("idA"), col("idB")).as("b"))
        .where(col("a") =!= col("b")).distinct(),
      count(lit(1)), fingerprint("a", "b"))
    var iter = 0
    var converged = probe.getLong(0) == 0L // edgeless graph: every node is its own root
    var prevFp = probe.getLong(1)
    while (!converged && iter < maxIter) {
      // large-star over the doubled neighborhood: u's closed minimum m ≤ u,
      // emitted edges (v, m) for v > u — already (larger, smaller) form
      val nbrs = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = nbrs.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = nbrs.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")).distinct()
      // small-star on (larger a → smaller b): re-point each a's smaller
      // neighborhood (and a itself) at its minimum
      val smins = large.groupBy("a").agg(min(col("b")).as("m"))
      val small = large.join(smins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .where(col("a") =!= col("b"))
        .union(large.join(smins, "a")
          .select(col("a"), col("m").as("b")))
        .distinct()
      // each round references the previous frame many times (doubled
      // neighborhood + two joins), so the LOGICAL plan grows geometrically
      // — caching does not truncate lineage, checkpointing does. Local
      // checkpoint suffices in one JVM; on a real cluster set a reliable
      // spark.checkpoint.dir so executor loss cannot drop a round.
      val (cp, p) = Rounds.advance(Seq(e), small, fingerprint("a", "b"))
      val fp = p.getLong(0)
      e = cp
      converged = fp == prevFp
      prevFp = fp
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds — " +
          "pathological input (star contraction needs ~log n rounds)")
    // fixed point: every edge is (node → its component minimum); roots and
    // isolated nodes label themselves
    val labels = e.select(col("a").as("id"), col("b").as("component"))
      .union(e.select(col("b").as("id"), col("b").as("component")))
      .groupBy("id").agg(min(col("component")).as("component"))
    // checkpoint the RESULT, not cache it: a cached frame stays
    // recomputable-from-lineage, and that lineage reads e's checkpoint
    // blocks, which the release destroys. Same return contract as
    // [[connectedComponents]]: a checkpointed frame the context cleaner
    // reclaims when the caller drops it.
    val out = Rounds.finish(nodes
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component")),
      Seq(e))
    nodes.unpersist()
    (out, iter)
  }

  /** End-to-end near-dup dedup: keep one representative (minimum id) per
    * connected component of the verified candidate-pair graph. Docs in no
    * pair keep themselves. Output: (id, cluster_id) for every doc.
    *
    * The result's lineage holds the cached component labels from
    * [[connectedComponents]] (small: one row per id in `pairs`); the
    * context cleaner reclaims the cache when the frames are released —
    * call connectedComponents directly if you need explicit unpersist
    * control.
    */
  def clusterAssignments(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // hybrid: near-dup pair graphs are almost always shallow, where label
    // propagation's single cheap shuffle per round wins; if the diameter
    // exceeds the round cap (deep chains — rare but fatal at scale for
    // pure propagation), fall back to star contraction, whose O(log n)
    // rounds are topology-independent. Both produce identical labels
    // (OpsSpec equality law), so the switch is invisible to callers.
    val cc =
      try connectedComponents(pairs, maxIter = 8)
      catch { case _: IllegalStateException => connectedComponentsStar(pairs) }
    docs.select(col(idCol).as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster_id"))
  }

  /** Quality-aware duplicate resolution: given per-document cluster
    * assignments (from [[clusterAssignments]] / [[semanticDedup]]) and a
    * quality score, keep the BEST-scored member of each cluster (ties →
    * minimum id) instead of an arbitrary one — the RefinedWeb/Dolma
    * practice: when near-duplicates differ in boilerplate or truncation,
    * the kept copy should be the cleanest.
    *
    * One window over the cluster key (single shuffle; in-cluster sort is
    * bounded by cluster size — near-dup clusters are small by
    * construction, and degenerate giants are already capped upstream by
    * the candidate generators' maxBucket guards).
    *
    * Input must carry (idCol, clusterCol, scoreCol); output adds a `keep`
    * flag and `n_members`, preserving one row per document.
    */
  def keepBest(clustered: DataFrame, idCol: String, clusterCol: String,
      scoreCol: String): DataFrame = {
    val byQuality = Window.partitionBy(col(clusterCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    clustered
      .withColumn("__rk", row_number().over(byQuality))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col(clusterCol))))
      .withColumn("keep", col("__rk") === 1)
      .drop("__rk")
  }

  /** Cluster-size histogram for a dedup run — the one-page audit of what
    * clustering found: per cluster size, how many clusters, how many
    * documents they hold, and how many rows dedup would remove
    * (`dup_mass = docs − clusters` at that size). Size 1 = untouched
    * docs; a heavy far tail (one giant cluster) usually means the
    * candidate threshold is too loose or a boilerplate pattern slipped
    * the guards — this is the number to look at BEFORE deleting
    * anything. Two partial-agg reductions: (cluster → size), then
    * (size → histogram row); nothing document-sized leaves the first.
    */
  def clusterStats(assignments: DataFrame, clusterCol: String = "cluster_id")
      : DataFrame =
    assignments.groupBy(col(clusterCol)).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("__sz")).as("n_docs"))
      .withColumn("dup_mass", col("n_docs") - col("n_clusters"))

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster embeddings into
    * `nCentroids` k-means cells, compute exact pairwise cosine WITHIN each
    * cell only, and keep one representative (minimum id) per connected
    * component of the ≥-threshold graph. The cells bound the quadratic
    * term: all-pairs over a 100 TB corpus is impossible, all-pairs within
    * corpus/nCentroids-sized cells is the SemDeDup trade — cross-cell
    * near-duplicates are the accepted recall loss (tune with nCentroids;
    * `maxCell` additionally drops degenerate cells — e.g. a zero-vector
    * pile-up — that would go quadratic, same guard as the banded
    * generators).
    *
    * The pair join shuffles (cell, id, vec) once; similarity is projected
    * and thresholded before any further exchange, so vectors never ride a
    * dedup/aggregation shuffle. Centroids are reusable driver metadata
    * ([[Similarity.trainCentroids]]).
    *
    * With nCentroids = 1 the cell graph IS the exact pairwise graph —
    * the correctness gate runs in that mode (oracle: exact cosine +
    * recursive transitive closure); cell-pruning recall is gated by
    * ScalaTest partition-refinement tests.
    *
    * Output: (id, cluster_id, keep) for every input row.
    */
  def semanticDedup(corpus: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nCentroids: Int = 1024,
      maxCell: Int = Int.MaxValue,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val e = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cents = centroids.getOrElse(Similarity.trainCentroids(e, nCentroids))
    val assigned = e.select(col("id"), col("vec"),
      graft.functions.text.nearestCentroid(col("vec"), cents).as("cell"))
    val capped = capBuckets(assigned, Seq("cell"), maxCell)
    val a = capped.select(col("cell"), col("id").as("idA"), col("vec").as("va"))
    val b = capped.select(col("cell"), col("id").as("idB"), col("vec").as("vb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        graft.functions.text.cosineSim(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
      .select("idA", "idB")
    clusterAssignments(e, "id", pairs)
      .withColumn("keep", col("id") === col("cluster_id"))
  }

  /** Candidate pairs with Hamming distance ≤ maxDist via 16-bit banding
    * (any equal 16-bit chunk → candidate; by pigeonhole every pair with
    * hamming ≤ 3 is guaranteed found, larger distances probabilistically).
    * Same `maxBucket` skew guard as minhash: a degenerate chunk (empty docs
    * all fingerprint 0) would otherwise make one bucket quadratic.
    */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String, maxDist: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    val fp = simhash(df, textCol, idCol)
    val banded0 = fp.select(col("id"), col("simhash"),
      posexplode(simhashBandCols(col("simhash"))).as(Seq("band", "chunk")))
    val banded = capBuckets(banded0, Seq("band", "chunk"), maxBucket)
    val a = banded.select(col("band"), col("chunk"), col("id").as("idA"), col("simhash").as("fpA"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("idB"), col("simhash").as("fpB"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        bit_count(col("fpA").bitwiseXOR(col("fpB"))).as("hamming"))
      .dropDuplicates("idA", "idB")
      .filter(col("hamming") <= maxDist)
  }

  /** Document-stitching candidates: pairs (left, right) where the LAST
    * `k` whitespace tokens of `left` equal the FIRST `k` tokens of
    * `right` — the crawl-reassembly primitive for documents that arrive
    * split (pagination, extraction window caps, chunked reposts). The
    * directional complement of the dedup family: dedup finds the SAME
    * content twice; stitching finds content cut in half. Tokens stay
    * case-sensitive and verbatim (a stitch boundary is byte-evidence,
    * not fuzzy similarity); documents shorter than `k` tokens can't
    * anchor a boundary and are skipped.
    *
    * Scale shape: two scan-stage projections (suffix-gram, prefix-gram —
    * split + slice, no regex backtrack) and ONE equi-join on the gram
    * string. `maxBucket` is the skew guard (the [[capBuckets]]
    * convention): a boilerplate boundary ("continue reading on page" ×
    * 10⁶ docs) would otherwise turn the join into a hub self-join;
    * grams with more than `maxBucket` occurrences on EITHER side are
    * dropped as stop-boundaries (a gram that common is navigation, not
    * evidence of a specific cut). Output: (left_id, right_id,
    * boundary_gram), self-pairs excluded.
    */
  def docStitchCandidates(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, maxBucket: Int = 64): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxBucket >= 1, "maxBucket must be >= 1")
    val toks = split(trim(col(textCol)), "\\s+")
    val base = docs.select(col(idCol).as("__id"), toks.as("__tk"))
      .where(size(col("__tk")) >= k && length(trim(col(textCol))) > 0)
    val suf = base.select(col("__id").as("left_id"),
      array_join(slice(col("__tk"), -k, k), " ").as("boundary_gram"))
    val pre = base.select(col("__id").as("right_id"),
      array_join(slice(col("__tk"), 1, k), " ").as("boundary_gram"))
    capBuckets(suf, Seq("boundary_gram"), maxBucket)
      .join(capBuckets(pre, Seq("boundary_gram"), maxBucket), Seq("boundary_gram"))
      .where(col("left_id") =!= col("right_id"))
      .select(col("left_id"), col("right_id"), col("boundary_gram"))
  }
}
