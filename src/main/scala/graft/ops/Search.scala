package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.text.wordsOf

/** Keyword search over the corpus: BM25 ranking (Robertson & Zaragoza 2009,
  * "The Probabilistic Relevance Framework: BM25 and Beyond") computed as a
  * distributed inverted scoring pass — the retrieval half of a
  * training-data pipeline (mining documents for a topic, building eval
  * sets, spot-checking dedup clusters).
  *
  * Scale shape:
  *   - no materialized index is required: one corpus scan explodes tokens
  *     and keeps only query-term rows (the isin filter fuses into the same
  *     codegen stage as the explode, so non-matching tokens never shuffle);
  *     only (doc, term, tf) rows — bounded by |terms| per doc — reach the
  *     aggregation.
  *   - document frequencies form a ≤|terms|-row frame, broadcast back onto
  *     the postings; corpus-level scalars (N, avgdl) come from one tiny agg.
  *   - final top-k is TakeOrderedAndProject (per-partition heaps + driver
  *     merge of k rows), never a global sort.
  *
  * Determinism convention (same as [[Lm]] / [[Curation.dsirScores]]): the
  * integer posting layer (tf, df, dl) is oracle-gated (ns_bm25); the
  * ln-based score and its ranking are engine-local and gated in SearchSpec
  * by an exact driver-side replay.
  *
  * No counterpart in the reference engine; north-star operator.
  */
object Search {

  /** Query-term postings: one row per (document, matched term) with term
    * frequency and document length. `(id, term, tf, dl)`.
    */
  def termPostings(corpus: DataFrame, textCol: String, idCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    corpus
      .select(col(idCol).as("id"), wordsOf(col(textCol)).as("toks"))
      .select(col("id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(terms.map(_.toLowerCase): _*))
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
  }

  /** BM25 top-k for a bag-of-words query. Output: `(id, n_terms, score)`
    * sorted best-first, ties broken by id.
    *
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (the non-negative BM25+ form);
    * per-term contribution idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    */
  def bm25(corpus: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1 && k1 >= 0 && b >= 0 && b <= 1, "bad BM25 parameters")
    val stats = corpus
      .select(size(wordsOf(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)), avg(col("dl"))).head()
    val nDocs = stats.getLong(0)
    val avgdl = stats.getDouble(1)
    val post = termPostings(corpus, textCol, idCol, terms)
    val dfs = post.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf").cast("double") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))
    post.join(broadcast(dfs), "term")
      .select(col("id"), (idf * norm).as("contrib"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Integer-exact keyword ranking: documents ordered by (matched query
    * terms desc, total tf desc, id). The coarse tier of the retrieval
    * stack — every comparison is integer, so an independent engine
    * replays the ranking bit-for-bit (the determinism convention the
    * hybrid gate builds on; BM25 refines it with float idf weighting).
    * Output: (id, rank), rank 1 = best, top-k only.
    */
  def tfTopK(corpus: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k: Int = 10): DataFrame = {
    val scored = termPostings(corpus, textCol, idCol, terms)
      .groupBy("id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_total"))
    topKRanked(scored, Seq(col("n_terms").desc, col("tf_total").desc, col("id")), k)
      .select("id", "rank")
  }

  /** orderBy+limit (plans as TakeOrderedAndProject: per-partition heaps +
    * a k-row driver merge, never a global sort) followed by a rank column
    * from the same ordering. The GLOBAL row_number window is safe only
    * because it runs after the limit, over ≤ k rows — this helper is the
    * single home of that invariant for every ranked-list builder here.
    */
  private def topKRanked(df: DataFrame, order: Seq[Column], k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
    df.orderBy(order: _*).limit(k).withColumn("rank", row_number().over(w))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse any
    * number of (id, rank) lists with rrf = Σ 1/(kRrf + rank). Fusion is
    * rank-only — scores of different scales never mix — and the
    * contribution is computed as integer nano-units (1e9 div (kRrf+rank)),
    * so the fused ordering is exactly reproducible on any engine.
    *
    * Scale shape: inputs are already top-k' lists (bounded); the union +
    * groupBy shuffles ≤ Σ|lists| id+long rows; final top-k is
    * TakeOrderedAndProject. Output: (id, n_lists, rrf_micro, rank).
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val contribs = rankings.map(_.select(col("id"),
      expr(s"CAST(1000000000 AS BIGINT) div CAST($kRrf + rank AS BIGINT)").as("c")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy("id")
      .agg(count(lit(1)).as("n_lists"), sum(col("c")).as("rrf_micro"))
    topKRanked(fused, Seq(col("rrf_micro").desc, col("id")), k)
      .select("id", "n_lists", "rrf_micro", "rank")
  }

  /** Hybrid retrieval: BM25 keyword candidates fused with exact-cosine
    * vector candidates by RRF — the standard RAG retrieval shape. The
    * corpus text and embedding sides are scanned independently (each
    * prunes to its own columns); only two bounded top-kCand lists meet in
    * the fusion. Swap the vector side for [[Similarity.pqTopK]] /
    * [[Similarity.lshTopK]] output when the corpus outgrows brute force.
    */
  def hybridTopK(corpus: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], embeddings: DataFrame, // (id, vec)
      queryVec: Array[Double], k: Int = 10, kCand: Int = 100,
      kRrf: Int = 60): DataFrame = {
    val text = topKRanked(bm25(corpus, textCol, idCol, terms, kCand),
      Seq(col("score").desc, col("id")), kCand).select("id", "rank")
    val vec = vectorTopK(embeddings, queryVec, kCand)
    rrfFuse(Seq(text, vec), k, kRrf)
  }

  /** Exact-cosine top-k of a corpus against one literal query vector.
    * Output: (id, rank). The single-query tier (the ANN operators cover
    * query batches); the scan streams once, top-k is per-partition heaps.
    */
  def vectorTopK(embeddings: DataFrame, queryVec: Array[Double], k: Int): DataFrame = {
    val q = typedLit(queryVec.toSeq)
    val scored = embeddings.select(col("id"),
      graft.functions.text.cosineSim(col("vec"), q).as("sim"))
    topKRanked(scored, Seq(col("sim").desc, col("id")), k).select("id", "rank")
  }

  /** Retrieval / ANN evaluation: per-query recall@k and reciprocal rank of
    * a predicted ranking `(query_id, doc_id, rank)` against a relevance
    * set `(query_id, doc_id)`. Integer-exact (per-mille recall,
    * micro-unit RR: 10⁶ div first_hit_rank — truncated, engine-portable),
    * so eval numbers are reproducible bit-for-bit across engines and
    * reruns — the harness for grading an approximate tier (LSH/IVF/PQ)
    * against ground truth at corpus scale. Queries with no relevant docs
    * are excluded (recall undefined); queries whose relevant docs were
    * all missed emit rank NULL and rr_micro 0. Joins are keyed on
    * (query_id, doc_id) — rankings are k rows per query, so both sides
    * are output-sized, never corpus-sized.
    */
  def rankingMetrics(predicted: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val t = truth.select(col("query_id"), col("doc_id")).distinct()
    val p = predicted.select(col("query_id"), col("doc_id"), col("rank"))
    val perQuery = t.join(p, Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_relevant"),
        sum(when(col("rank") <= k, 1L).otherwise(0L)).as("hits_at_k"),
        min(col("rank")).as("first_hit_rank"))
    perQuery.select(col("query_id"), col("n_relevant"), col("hits_at_k"),
      call_function("div", lit(1000L) * col("hits_at_k"), col("n_relevant"))
        .as("recall_at_k_permille"),
      col("first_hit_rank"),
      coalesce(call_function("div", lit(1000000L), col("first_hit_rank")), lit(0L))
        .as("rr_micro"))
  }

  /** A persisted-index tier for BM25: the FULL inverted index (term, id,
    * tf, dl) plus the two corpus scalars scoring needs. [[bm25]] re-scans
    * and re-tokenizes the corpus per query — right for ad-hoc audits,
    * wrong for a query workload; at scale you build postings ONCE,
    * persist them clustered by term, and each query reads only its
    * terms' posting lists (a term-predicate parquet scan, row-group
    * skipping via the term sort — never the corpus). df is deliberately
    * NOT stored: it's recomputed from the filtered postings at query
    * time, which is what makes [[addToBm25Index]] a pure append.
    */
  final case class Bm25Index(postings: DataFrame, nDocs: Long, dlSum: Long) {
    def avgdl: Double = dlSum.toDouble / nDocs
  }

  /** Build the full inverted index: one tokenize+explode scan, one
    * partial-aggregated (id, term) count, one corpus-stats aggregate
    * (two longs to the driver — model-sized, like IVF centroids).
    */
  def buildBm25Index(corpus: DataFrame, textCol: String, idCol: String): Bm25Index = {
    val post = corpus
      .select(col(idCol).as("id"), wordsOf(col(textCol)).as("toks"))
      .select(col("id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
    val s = corpus.select(size(wordsOf(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
    Bm25Index(post, s.getLong(0), s.getLong(1))
  }

  /** Append a delta corpus to an index without rebuilding: postings
    * union + scalar bump. Sound because df is recomputed at query time
    * from the postings themselves (law: add == build-on-union). Ids must
    * be fresh — re-ingesting an existing doc duplicates its postings
    * (dedup upstream, the same contract as the incremental dedup
    * indexes).
    */
  def addToBm25Index(index: Bm25Index, delta: DataFrame, textCol: String,
      idCol: String): Bm25Index = {
    val d = buildBm25Index(delta, textCol, idCol)
    Bm25Index(index.postings.unionByName(d.postings),
      index.nDocs + d.nDocs, index.dlSum + d.dlSum)
  }

  /** BM25 top-k against a prebuilt [[Bm25Index]] — identical scoring and
    * output contract to [[bm25]] (equivalence is law-tested), but the
    * only data touched is the query terms' posting lists.
    */
  def bm25Indexed(index: Bm25Index, terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && k >= 1 && k1 >= 0 && b >= 0 && b <= 1,
      "bad BM25 parameters")
    val post = index.postings.filter(col("term").isin(terms.map(_.toLowerCase): _*))
    val dfs = post.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (lit(index.nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf").cast("double") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / index.avgdl))
    post.join(broadcast(dfs), "term")
      .select(col("id"), (idf * norm).as("contrib"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Persist / restore an index: postings clustered by term (repartition
    * + within-partition sort → term-contiguous row groups, so a query's
    * `term IN (...)` predicate skips row groups wholesale) plus a one-row
    * stats file. `shards` sizes the postings layout, not correctness.
    */
  /** Ranker-vs-ranker agreement at depth — overlap@d between two ranked
    * result sets WITHOUT ground truth: how much of ranker A's top-d does
    * ranker B's top-d retain, averaged over queries. The quantization/
    * ANN drift audit ([[graft.ops.Similarity.quantizeInt8]] rankings vs
    * full-precision, IVF vs brute force, a new BM25 parameterization vs
    * the old) and the cheap proxy for "can I ship the faster ranker" —
    * [[rankingMetrics]] needs labels, this needs only the two rankings.
    *
    * overlap_permille at depth d = 1000·Σ_q |A_q@d ∩ B_q@d| div (n_q·d),
    * assuming both rankers emit ≥ d items per query (the top-k contract;
    * queries ranked by only one side contribute misses, which is the
    * honest reading). Integer-exact.
    *
    * Scale shape: ONE (query, item) equi-join of the two rank tables and
    * one conditional aggregate over all depths at once — no per-depth
    * re-join, no window; the query-count tail broadcasts as one row.
    * Output: (depth, n_queries, sum_overlap, overlap_permille).
    */
  def rankAgreement(a: DataFrame, b: DataFrame, queryCol: String,
      itemCol: String, rankCol: String, depths: Seq[Int]): DataFrame = {
    require(depths.nonEmpty && depths.forall(_ >= 1), "depths must be >= 1")
    require(depths.distinct.size == depths.size, "depths must be distinct")
    val aa = a.select(col(queryCol).as("q"), col(itemCol).as("i"),
      col(rankCol).cast("long").as("ra"))
    val bb = b.select(col(queryCol).as("q"), col(itemCol).as("i"),
      col(rankCol).cast("long").as("rb"))
    val joined = aa.join(bb, Seq("q", "i"))
    val aggCols = depths.map(d =>
      coalesce(sum(when(col("ra") <= d && col("rb") <= d, 1L)), lit(0L))
        .as(s"__o$d"))
    val cells = joined.agg(aggCols.head, aggCols.tail: _*)
    val nq = aa.agg(countDistinct(col("q")).as("__nq"))
    val rows = explode(array(depths.map(d =>
      struct(lit(d.toLong).as("depth"), col(s"__o$d").as("sum_overlap"))): _*))
    cells.crossJoin(broadcast(nq))
      .select(rows.as("r"), col("__nq"))
      .select(col("r.depth").as("depth"), col("__nq").as("n_queries"),
        col("r.sum_overlap").as("sum_overlap"))
      .withColumn("overlap_permille",
        when(col("n_queries") > 0,
          call_function("div", col("sum_overlap") * 1000L,
            col("n_queries") * col("depth")))
          .otherwise(lit(0L)))
  }

  def saveBm25Index(index: Bm25Index, dir: String, shards: Int = 16): Unit = {
    index.postings.repartition(shards, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/postings")
    val spark = index.postings.sparkSession
    import spark.implicits._
    Seq((index.nDocs, index.dlSum)).toDF("n_docs", "dl_sum")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  def loadBm25Index(spark: org.apache.spark.sql.SparkSession, dir: String): Bm25Index = {
    val s = spark.read.parquet(s"$dir/stats").head()
    Bm25Index(spark.read.parquet(s"$dir/postings"),
      s.getAs[Long]("n_docs"), s.getAs[Long]("dl_sum"))
  }
}
