package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.compile.SpecCompiler
import graft.spec.StreamSpec

/** Dedup & similarity tier: exact/minhash/simhash/embedding dedup, incremental indexes, ANN, fuzzy joins, retrieval.
  *
  * One tier of the [[SparkEntry]] contract (round-6 split of the 5.5 kLoC
  * registration file: the `queries`/`oracleSql` MAPS are the contract, the
  * file layout is not). Every `queries` entry here must pair with an
  * `oracleSql` entry of the SAME name in the SAME file - derived oracles
  * (ns_pipeline_funnel) are composed in [[SparkEntry.oracleSql]].
  */
private[graft] object EntriesDedup {
  import EntrySupport._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- training-data pipeline operators (north star) ----
    "ns_dedup_exact" -> ((s, dir) =>
      graft.ops.Dedup.exact(t(s, dir, "documents"), "text", "doc_id")),
    "ns_doc_stitch" -> ((s, dir) => {
      // crawl-reassembly gate: every eligible doc is split into
      // overlapping halves (tokens 1-16 and 13-28 share a 4-token
      // boundary), so each split pair MUST stitch back; run in exact
      // mode (maxBucket disabled-high), guard semantics ScalaTest-gated
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
        .where(size(col("tk")) >= 28)
      val halves = d.select(explode(array(
          struct((col("doc_id") * 2).as("id"),
            array_join(slice(col("tk"), 1, 16), " ").as("text")),
          struct((col("doc_id") * 2 + 1).as("id"),
            array_join(slice(col("tk"), 13, 16), " ").as("text")))).as("h"))
        .select(col("h.id").as("id"), col("h.text").as("text"))
      graft.ops.Dedup.docStitchCandidates(halves, "text", "id",
        k = 4, maxBucket = 1000000)
    }),
    "ns_embed_pca" -> ((s, dir) => {
      // PCA projection with the FROZEN basis: exact integer dots of
      // micro-quantized embeddings against micro-quantized components —
      // the decision-grade preprocessing step before the ANN tiers.
      // posexplode scalarizes for the hash gate (pandas cannot sort
      // array cells).
      val model = graft.ops.Embeddings.PcaModel(
        FrozenPcaComponentsMicro, FrozenPcaMeanMicro,
        dim = 64, quantScale = 1000000L)
      graft.ops.Embeddings.project(t(s, dir, "embeddings"), "vec_id", "embedding", model)
        .select(col("id").as("vec_id"),
          posexplode(col("proj")).as(Seq("comp_idx", "proj")))
    }),
    // The DuckDB oracle recomputes the full md5-family
    // 64-hash signature per document and mirrors the banding semantics
    // (∃ band with identical signature rows), so the candidate set is
    // hash-verified end-to-end, not just row-counted. The maxBucket skew
    // guard is disabled here so the query's semantics are EXACTLY the
    // oracle's at any corpus composition (the guard's pair-bounding is
    // covered by its own OpsSpec test).
    "ns_dedup_minhash" -> ((s, dir) =>
      graft.ops.Dedup.minhashCandidates(t(s, dir, "documents"), "text", "doc_id",
        maxBucket = Int.MaxValue)
        .filter(col("est_jaccard") >= 0.5)),
    "ns_dedup_simhash" -> ((s, dir) =>
      graft.ops.Dedup.simhashCandidates(t(s, dir, "documents"), "text", "doc_id",
        maxDist = 10, maxBucket = Int.MaxValue)),
    "ns_dedup_cluster" -> ((s, dir) => {
      // End-to-end near-dup dedup: minhash candidates → connected
      // components → one cluster id (min reachable doc) per document.
      // The oracle recomputes the same pair graph (portable signatures)
      // and resolves components with a recursive transitive closure.
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.minhashCandidates(docs, "text", "doc_id",
        maxBucket = Int.MaxValue)
        .filter(col("est_jaccard") >= 0.5).select("idA", "idB")
      graft.ops.Dedup.clusterAssignments(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),
    "ns_cluster_stats" -> ((s, dir) => {
      // cluster-size histogram gate on a deterministic synthetic
      // assignment (doc_id % 97 — the ns_keep_best precedent: the
      // operator under test is the HISTOGRAM; the clustering itself is
      // pinned by ns_dedup_cluster, and re-running it here would only
      // re-pay that gate's oracle-imposed cost)
      graft.ops.Dedup.clusterStats(
        t(s, dir, "documents").select(col("doc_id").as("id"),
          (col("doc_id") % 97).as("cluster_id")))
    }),
    "ns_keep_best" -> ((s, dir) => {
      // Quality-aware duplicate resolution: keep the longest member per
      // cluster (integer score → exactly replayable; ties break by min
      // id). Gated on a PRECOMPUTED deterministic cluster table — the
      // clustering path itself is pinned by ns_dedup_cluster, and re-running
      // minhash + transitive closure here (round 4's shape) tripled the
      // gate's cost on both engines without gating anything new. This is
      // how keepBest runs in production anyway: over a persisted cluster
      // assignment, not fused to the generator.
      val clustered = t(s, dir, "documents")
        .select(col("doc_id").as("id"),
          pmod(col("doc_id"), lit(97L)).as("cluster_id"),
          length(col("text")).cast("long").as("quality"))
      graft.ops.Dedup.keepBest(clustered, "id", "cluster_id", "quality")
        .select(col("id").as("doc_id"), col("cluster_id"), col("quality"),
          col("n_members"), col("keep"))
    }),
    "ns_ngram_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 100)
      val ids = d.select(col("doc_id"))
      val pairs = ids.select(col("doc_id").as("idA"))
        .join(ids.select(col("doc_id").as("idB")), col("idA") < col("idB"))
      graft.ops.Dedup.ngramJaccard(pairs, t(s, dir, "documents"), "text", "doc_id")
    }),
    "ns_rank_agreement" -> ((s, dir) => {
      // quantization-drift audit: exact cosine top-10 vs the same ranking
      // over int8-reconstructed vectors; overlap@{1,3,5,10} in permille.
      // Both rankings are deterministic IEEE chains both engines replay.
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val exact = graft.ops.Similarity.bruteForceTopK(
        e.filter(col("id") < 50), e, k = 10)
      val dq = graft.ops.Similarity.dequantizeInt8(
        graft.ops.Similarity.quantizeInt8(e))
      val approx = graft.ops.Similarity.bruteForceTopK(
        dq.filter(col("id") < 50), dq, k = 10)
      graft.ops.Search.rankAgreement(exact, approx, "query_id",
        "neighbor_id", "rank", depths = Seq(1, 3, 5, 10))
    }),
    "ns_label_noise" -> ((s, dir) =>
      // Cleanlab-lite: items whose 5 nearest embedding neighbors vote a
      // different majority label (>= 3 agreeing) flag as probable
      // mislabels; exact neighbor tier, 300-vector bound (oracle-imposed
      // quadratic, the exactTopKSql convention)
      graft.ops.Similarity.labelNoiseByNeighbors(
        t(s, dir, "embeddings").filter(col("vec_id") < 300)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("embedding").cast("array<double>").as("vec")),
        "vec", "vec_id", "label", k = 5, minAgree = 3L)),
    "ns_mmr" -> ((s, dir) => {
      // diversity-aware selection: 8 MMR picks (λ = 1/2) from the 300-
      // vector pool against vec 0 as the query — the oracle replays the
      // greedy loop as a recursive CTE carrying the full candidate state
      // (id, rel, max-sim-to-selected) per round; rank-only output like
      // the ANN gates (cosine ORDERING replays cross-engine, floats don't)
      val e = t(s, dir, "embeddings").filter(col("vec_id") >= 1 && col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      val q = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
      graft.ops.Similarity.mmrSelect(e, "vec", "id", q, k = 8, lambdaPermille = 500)
    }),
    "ns_embed_topk" -> ((s, dir) => {
      // corpus bounded to vec_id < 1000 (the whole table at the
      // correctness SF): the ANN gates deliberately run exhaustively to
      // equal exact top-k, so their bench cost is oracle-imposed — the
      // bound caps it without touching what the gate proves. Applied to
      // the shared exactTopKSql fragment + every query that uses it.
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      graft.ops.Similarity.bruteForceTopK(e.filter(col("id") < 50), e, k = 5)
    }),
    "ns_hard_negatives" -> ((s, dir) => {
      // contrastive-pair mining gate: per query, top-5 most-similar
      // DIFFERENT-label corpus vectors — exact cosine ranking, rank-only
      // output like the ANN gates
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"), col("label"))
      graft.ops.Similarity.hardNegatives(e.filter(col("id") < 50), e, k = 5)
    }),
    // ANN correctness gates run in provably-exhaustive mode (probe every
    // bucket / every IVF cell): the output must then EQUAL exact top-k, so
    // the DuckDB exact-cosine oracle pins the whole pipeline — bucketing,
    // probing, candidate dedup, ranking. Approximate-setting recall (the
    // scale path: probes ≪ 2^planes, nprobe ≪ nCentroids) is gated by
    // ScalaTest recall tests in OpsSpec.
    "ns_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      graft.ops.Similarity.lshTopK(e.filter(col("id") < 50), e, k = 5,
        planes = 4, tables = 2, probes = 16)
    }),
    "ns_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      graft.ops.Similarity.ivfTopK(e.filter(col("id") < 50), e, k = 5,
        nCentroids = 16, nprobe = 16)
    }),
    "ns_dedup_embed" -> ((s, dir) => {
      // vec_id < 1000 covers the whole table at the correctness SF (500
      // vectors at sf0.01) and bounds the exhaustive-probe gate mode's
      // deliberate all-pairs cost at bench SFs — the all-pairs term is the
      // gate's oracle contract, not the operator's scale path
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      // exhaustive probing makes every pair collide already in table 0, so
      // one table is enough for the correctness gate (more tables only add
      // recall in approximate mode)
      graft.ops.Dedup.embeddingCandidates(e, "vec", "id", threshold = 0.48,
        planes = 4, tables = 1, probes = 16)
        .select(col("idA"), col("idB")) // int-only output for determinism
    }),
    "ns_semdedup" -> ((s, dir) => {
      // SemDeDup in gate mode: nCentroids = 1 makes the within-cell graph
      // the exact pairwise graph, so the oracle pins clustering + cosine +
      // component resolution end to end (cell-pruning recall is
      // OpsSpec-gated). Threshold matches ns_dedup_embed's 0.48 — a
      // boundary the two engines' float cosines are known to agree on.
      // same vec_id < 1000 bound as ns_dedup_embed: full table at the
      // correctness SF, bounded quadratic-by-contract cost at bench SFs
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      graft.ops.Dedup.semanticDedup(e, "vec", "id", threshold = 0.48, nCentroids = 1)
    }),
    "ns_margin_pairs" -> ((s, dir) => {
      // absolute-margin pair mining on int8 codes: integer dots make the
      // best-vs-runner-up margin exact, so the accept DECISION replays;
      // 30000 splits the 50 queries roughly in half at this SF
      val e = t(s, dir, "embeddings").where(col("vec_id") < 1000)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val codes = graft.ops.Similarity.quantizeInt8(e)
        .select(col("id"), col("codes").cast("array<double>").as("vec"))
      graft.ops.Similarity.marginPairs(
        codes.where(col("id") < 50), codes, minMargin = 30000L)
    }),
    "ns_kcenter" -> ((s, dir) => {
      // greedy k-center on int8-quantized vectors: every distance is an
      // exact integer (codes-as-doubles, partial sums < 2^53), so the
      // 4-round selection replays bit-for-bit in the unrolled SQL
      val e = t(s, dir, "embeddings").where(col("vec_id") < 500)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val codes = graft.ops.Similarity.quantizeInt8(e)
        .select(col("id"), col("codes").cast("array<double>").as("vec"))
      graft.ops.Similarity.kCenterSelect(codes, "vec", "id", k = 4, firstId = 0L)
    }),
    "ns_prototypes" -> ((s, dir) => {
      // SSL-prototypes pruning in fixed-centroid gate mode: 4 one-hot
      // centroids (dims 0/16/32/48) make cell assignment and the
      // prototypicality ranking exactly replayable in SQL — trained-
      // centroid mode is OpsSpec-gated. The float sim column is excluded
      // per the determinism convention; the rank column pins it.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val cents = Array.tabulate(4)(j =>
        Array.tabulate(64)(d => if (d == j * 16) 1.0 else 0.0))
      graft.ops.Similarity.prototypicality(e, "vec", "id",
          keepFrac = 0.7, centroids = Some(cents))
        .select(col("id"), col("cell"), col("rank"), col("n_cell"), col("keep"))
    }),
    "ns_bm25" -> ((s, dir) => {
      // BM25 keyword search, integer-exact layer: per-(doc, query-term)
      // postings with tf and dl — the inverted-scoring input the ranking
      // is a pure function of. The ln-based score/ordering is engine-local
      // (libm) and gated by SearchSpec's exact driver-side replay.
      val d = t(s, dir, "documents")
      graft.ops.Search.termPostings(d, "text", "doc_id",
          Seq("join", "filter", "spark"))
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          col("dl").cast("long").as("dl"))
    }),
    "ns_bm25_indexed" -> ((s, dir) => {
      // persisted-index tier: the FULL inverted index restricted to the
      // same query terms must carry the same postings the scan tier
      // derives — shared oracle SQL, so the tiers cannot drift
      val idx = graft.ops.Search.buildBm25Index(t(s, dir, "documents"),
        "text", "doc_id")
      idx.postings.filter(col("term").isin("join", "filter", "spark"))
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("dl"))
    }),
    "ns_substring_candidates" -> ((s, dir) => {
      // MOSS-style shared-substring candidates over winnowing fingerprints
      // (guard disabled so n_shared is EXACTLY the
      // fingerprint-set intersection the oracle recomputes; the skew
      // guard's pair-bounding has its own OpsSpec test). Bounded to 200
      // docs so the oracle's all-pairs intersect stays cheap at any SF.
      val d = t(s, dir, "documents").filter(col("doc_id") < 200)
      graft.ops.Dedup.fingerprintCandidates(d, "text", "doc_id",
        k = 8, w = 4, minShared = 30, maxBucket = Int.MaxValue)
    }),
    "ns_substr_dedup" -> ((s, dir) => {
      // ExactSubstr span dedup over a deterministic duplicate injection
      // (the raw corpus is random word soup with no repeated 8-grams, so
      // a shared 13-token license tail is appended to every 3rd doc and
      // appended twice to every 5th — cross-doc AND intra-doc repeats;
      // same constant-injection pattern as ns_pii_redact). The oracle
      // replays shingling, 120-bit keys, first-occurrence resolution,
      // interval covers, and reassembly in SQL.
      val d = t(s, dir, "documents")
      val inj = d.select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(SubstrDedupTail)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0, lit(SubstrDedupTail + SubstrDedupTail))
            .otherwise(lit(""))).as("text"))
      graft.ops.Curation.exactSubstrDedup(inj, "text", "doc_id", minTokens = 8)
    }),
    "ns_fuzzy_join" -> ((s, dir) => {
      // PassJoin edit-distance self-join on customer names (ed <= 2 =
      // names differing in <= 2 digit edits). Blocking is provably
      // complete, so the output EQUALS the oracle's brute-force join.
      // The id cap keeps the gate (and its quadratic oracle) SF-invariant.
      val c = t(s, dir, "customer").filter(col("c_custkey") <= 1000)
      graft.ops.Fuzzy.editDistanceSelfJoin(c, "c_name", "c_custkey", maxDist = 2)
    }),
    "ns_jaccard_join" -> ((s, dir) => {
      // EXACT set-similarity self-join (df-ordered prefix filtering — no
      // hashing, no approximation): 3-gram Jaccard >= 0.5. Unbounded
      // buckets = provably complete, so the output EQUALS the all-pairs
      // oracle. Fixed id slice keeps the quadratic oracle SF-invariant.
      val d = t(s, dir, "documents").filter(col("doc_id") <= 1000)
      graft.ops.Dedup.jaccardJoin(d, "text", "doc_id", minJaccardPermille = 500)
    }),
    "ns_containment_join" -> ((s, dir) => {
      // Directional containment (sub mostly inside sup) at 70% of the
      // sub's 3-gram set — unbounded buckets = provably complete, so
      // output EQUALS the all-pairs oracle. Same fixed slice as the
      // symmetric gate; asymmetric pairs (short-in-long) appear only
      // here, symmetric near-dups appear in both directions.
      val d = t(s, dir, "documents").filter(col("doc_id") <= 1000)
      graft.ops.Dedup.containmentJoin(d, "text", "doc_id", minContainPermille = 700)
    }),
    "ns_jaro_winkler" -> ((s, dir) => {
      // Scalar parity gate for the Jaro-Winkler comparator: score every
      // adjacent (k, k+1) part-name pair, emit micro-unit floors. The
      // oracle replays with DuckDB's OWN jaro_winkler_similarity (byte-
      // based Jaro, 0.7 boost threshold, 4-byte prefix cap), which
      // JaroWinklerExpr matches bit-for-bit — same FP reduction order —
      // so the floor is deterministic. Linear in |part|: SF-scaling safe.
      val p = t(s, dir, "part").select(col("p_partkey").as("id"), col("p_name").as("nm"))
      val b = p.select((col("id") - 1).as("id"), col("nm").as("nm2"))
      p.join(b, "id").select(col("id"),
        floor(graft.functions.text.jaroWinkler(col("nm"), col("nm2")) * lit(1e6))
          .cast("long").as("sim_ppm"))
    }),
    "ns_jw_join" -> ((s, dir) => {
      // Record-linkage join: initial-letter blocking + exact comparator,
      // replayed END-TO-END (blocking included) by the oracle, so the
      // gate checks the operator's documented contract — pairs sharing
      // the block key at/above threshold — not a weaker projection of
      // it. Fixed id slice keeps the quadratic-in-block cost SF-invariant.
      val p = t(s, dir, "part").filter(col("p_partkey") <= 600)
      graft.ops.Fuzzy.jaroWinklerSelfJoin(p, "p_name", "p_partkey", minSim = 0.92)
        .select(col("idA"), col("idB"),
          floor(col("sim") * lit(1e6)).cast("long").as("sim_ppm"))
    }),
    "ns_snm_join" -> ((s, dir) =>
      // Sorted-neighborhood candidates over customer names, window 5 —
      // deterministic positional pairs regardless of the range
      // partitioner's sampled boundaries (two-level rank); the oracle is
      // one global row_number + a rank-distance join.
      graft.ops.Fuzzy.sortedNeighborhoodJoin(
        t(s, dir, "customer").filter(col("c_custkey") <= 2000),
        "c_name", "c_custkey", window = 5, buckets = 8)),
    "ns_entity_resolution" -> ((s, dir) =>
      // end-to-end ER capstone: JW blocking + 0.92 threshold + transitive
      // closure + min-id canonical — the oracle replays blocking,
      // comparator, recursive closure, and the canonical rule
      graft.ops.Fuzzy.resolveEntities(
        t(s, dir, "part").filter(col("p_partkey") <= 600),
        "p_name", "p_partkey", minSim = 0.92)),
    "ns_cross_corpus" -> ((s, dir) => {
      // Priority cross-corpus dedup: pseudo-corpora from one table (id mod
      // 3), "wiki" outranks "web"; winner = min (priority, id) per digest.
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.crossCorpusDedup(
        Seq(
          "wiki" -> docs.filter(col("doc_id") % 3 === 0),
          "web" -> docs.filter(col("doc_id") % 3 =!= 0)),
        "text", "doc_id")
    }),
    "ns_line_dedup" -> ((s, dir) => {
      // restructure the word soup into 5-word lines (the corpus has no
      // newlines), then C4-style global line dedup: only the first global
      // occurrence of each line survives; docs reassemble in order.
      // Chunking via one codegen'd regexp_replace (every 5th token
      // separator becomes \n) — the transform∘slice HOF formulation is
      // interpreted and re-evaluates per consumer of the frame.
      val d = t(s, dir, "documents")
      val structured = d.select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "((?:\\S+ ){4}\\S+) ", "$1\n").as("text"))
      graft.ops.Curation.lineDedup(structured, "text", "doc_id", "\n")
    }),
    "ns_line_dedup_doc" -> ((s, dir) => {
      // within-doc repeat removal: restructure into 5-word lines, then
      // plant a repeat of each doc's own first line — the zero-shuffle
      // local pass must remove exactly the planted copy and reassemble
      val structured = regexp_replace(lower(trim(col("text"))),
        "((?:\\S+ ){4}\\S+) ", "$1\n")
      val planted = concat(structured, lit("\n"),
        substring_index(structured, "\n", 1))
      graft.ops.Curation.dedupeLinesInDoc(
        t(s, dir, "documents").select(col("doc_id"), planted.as("text")),
        "text", "doc_id", "\n")
    }),
    "ns_ann_ivfpq" -> ((s, dir) => {
      // IVFADC composition in exhaustive-lossless gate mode: one cell +
      // nprobe 1 makes the coarse join exhaustive, ksub = 512 makes ADC
      // exact (the ns_ann_pq losslessness argument), so the composed
      // pipeline — coarse assignment, probing, encoding, LUT scoring,
      // ranking — must EQUAL brute-force top-k (the shared exactTopKSql
      // oracle). Pruning-mode recall (nCentroids ≫ 1) is OpsSpec-gated.
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      graft.ops.Similarity.ivfPqTopK(e.filter(col("id") < 50), e, k = 5,
        nCentroids = 1, nprobe = 1, m = 8, ksub = 512)
    }),
    "ns_ann_pq" -> ((s, dir) => {
      // Product-quantization ANN in lossless gate mode: ksub = 512 ≥ the
      // sf0.01 corpus's distinct subvectors per subspace, so codebooks
      // reconstruct every vector exactly, ADC scoring IS the exact cosine
      // (per-subspace partial sums differ from the sequential cosine only
      // in final ulps — the gate corpus's neighbor margins are many orders
      // larger, the same FP-margin assumption the LSH/IVF gates make),
      // and the output must EQUAL exact brute-force top-k (exactTopKSql
      // oracle — mutually gated with LSH/IVF/brute force). Compression-mode
      // recall (ksub ≪ corpus, the 100 TB memory-bound tier) is
      // OpsSpec-gated.
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      graft.ops.Similarity.pqTopK(e.filter(col("id") < 50), e, k = 5, m = 8, ksub = 512)
    }),
    "ns_incremental_exact" -> ((s, dir) => {
      // Continuous-ingestion exact dedup: docs < 250 stand in for the
      // existing corpus (its index would be a persisted table), >= 250 for
      // the new batch. The oracle replays digest building, the corpus
      // anti-lookup, and within-batch first-occurrence.
      val docs = t(s, dir, "documents")
      val index = graft.ops.Dedup.exactIndex(
        docs.filter(col("doc_id") < 250), "text", "doc_id")
      graft.ops.Dedup.incrementalExact(
        docs.filter(col("doc_id") >= 250), index, "text", "doc_id")
    }),
    "ns_incremental_neardup" -> ((s, dir) => {
      // Near-dup candidates of the new batch against the prebuilt corpus
      // minhash index — cap disabled so DuckDB
      // replays signatures, band equality, and est_jaccard exactly.
      val docs = t(s, dir, "documents")
      val index = graft.ops.Dedup.minhashIndex(
        docs.filter(col("doc_id") < 250), "text", "doc_id")
      graft.ops.Dedup.incrementalMinhashCandidates(
        docs.filter(col("doc_id") >= 250), index, "text", "doc_id",
        maxBucket = Int.MaxValue)
    }),
    "ns_incremental_simhash" -> ((s, dir) => {
      // SimHash analog of ns_incremental_neardup: batch vs prebuilt
      // simhash index, cap disabled so DuckDB replays
      // fingerprints, chunk banding, and hamming exactly.
      val docs = t(s, dir, "documents")
      val index = graft.ops.Dedup.simhashIndex(
        docs.filter(col("doc_id") < 250), "text", "doc_id")
      graft.ops.Dedup.incrementalSimhashCandidates(
        docs.filter(col("doc_id") >= 250), index, "text", "doc_id",
        maxDist = 10, maxBucket = Int.MaxValue)
    }),
    "ns_audit_candidates" -> ((s, dir) => {
      // Self-audit gate: hash-sample half the minhash candidates and
      // verify them with exact unigram Jaccard at a 500permille bar. Every
      // stage — banded candidates, portable-hash sampling, integer
      // cross-multiply verdicts, the per-mille precision — replays in
      // DuckDB via the shared fragments.
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.minhashCandidates(docs, "text", "doc_id",
        maxBucket = Int.MaxValue)
        .filter(col("est_jaccard") >= 0.5).select("idA", "idB")
      graft.ops.Dedup.auditCandidates(pairs, docs, "text", "doc_id",
        minJaccardPermille = 500, samplePermille = 500)
    }),
    "ns_audit_recall" -> ((s, dir) => {
      // Recall-audit gate: portable-hash-sample 600permille of a fixed doc
      // slice, build the complete 3-gram-Jaccard>=0.5 truth set among the
      // sampled docs with the exact prefix-filtered join (3-gram = the
      // shingle family the minhash signatures hash — truth and generator
      // must grade the SAME similarity), and measure how many truth pairs
      // the minhash generator surfaced. Every stage replays in DuckDB.
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.minhashCandidates(docs, "text", "doc_id",
        maxBucket = Int.MaxValue)
        .filter(col("est_jaccard") >= 0.5).select("idA", "idB")
      graft.ops.Dedup.auditRecall(pairs, docs.filter(col("doc_id") <= 2000),
        "text", "doc_id", minJaccardPermille = 500, samplePermille = 600,
        shingleLen = 3)
    }),
    "ns_ranking_eval" -> ((s, dir) => {
      // Retrieval-eval harness gate: grade exact cosine top-5 against the
      // label ground truth (same-label vectors are the relevant set).
      // Both rankings and metrics are integer-exact, so DuckDB replays
      // recall@5 and MRR bit-for-bit on top of the shared exact-top-k
      // oracle.
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"), col("label"))
      val predicted = graft.ops.Similarity.bruteForceTopK(
        e.select("id", "vec").filter(col("id") < 50), e.select("id", "vec"), k = 5)
        .withColumnRenamed("neighbor_id", "doc_id")
      val truth = e.select(col("id").as("query_id"), col("label"))
        .filter(col("query_id") < 50)
        .join(e.select(col("id").as("doc_id"), col("label")), "label")
        .filter(col("query_id") =!= col("doc_id"))
        .select("query_id", "doc_id")
      graft.ops.Search.rankingMetrics(predicted, truth, k = 5)
    }),
    "ns_embed_pool" -> ((s, dir) =>
      // chunk→doc mean pooling gate: pool the embeddings per label into
      // integer micro-unit prototypes — exact division, replayed per
      // (label, dim) by the oracle
      graft.ops.Embeddings.meanPool(t(s, dir, "embeddings"), "label",
        "embedding", dim = 64)),
    "ns_group_affinity" -> ((s, dir) =>
      // Corpus-cartography gate: pairwise centroid affinity between the
      // label groups — integer-exact pooled components, dots, and squared
      // norms; the cosine's fixed-order IEEE tail (two sqrts, one divide,
      // one floor) replays bit-for-bit in DuckDB
      graft.ops.Embeddings.groupAffinity(t(s, dir, "embeddings"), "label",
        "embedding", dim = 64)),
    "ns_embed_outliers" -> ((s, dir) =>
      // Label-noise triage gate: integer squared distance to the own-label
      // centroid + deterministic outlier rank — no floats, bit-exact replay
      graft.ops.Embeddings.centroidOutliers(t(s, dir, "embeddings"), "label",
        "vec_id", "embedding", dim = 64)),
    "ns_embed_profile" -> ((s, dir) => {
      // Embedding QA: per-dim exact integer micro-moments + collapsed
      // flag over the embeddings table. Every value is a long sum/min/max
      // of quantized ints, so DuckDB replays the profile bit-for-bit.
      graft.ops.Embeddings.embeddingProfile(t(s, dir, "embeddings"),
        "embedding", dim = 64)
    }),
    "ns_embed_norms" -> ((s, dir) => {
      // One-row corpus norm profile (squared micro-norm extremes, zero
      // vectors, truncated integer mean).
      graft.ops.Embeddings.normProfile(t(s, dir, "embeddings"),
        "embedding", dim = 64)
    }),
    "ns_index_stats" -> ((s, dir) => {
      // index health gate: bucket-size histogram over band-slice buckets
      // of the portable minhash signatures (slice-as-bucket keeps the
      // bucket key oracle-replayable; the histogram reduction is what the
      // gate pins)
      val docs = t(s, dir, "documents")
      val sig = graft.ops.Dedup.minhashSigAndBuckets(col("text"),
        3, 64, 16).getField("sig")
      val entries = docs.select(col("doc_id"), sig.as("sig"))
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), lit(15)),
          b => concat_ws(",", slice(col("sig"), b * 4 + 1, lit(4)))))
          .as(Seq("band", "bucket")))
      graft.ops.Dedup.indexStats(entries, Seq("band", "bucket"))
    }),
    "ns_incremental_embed" -> ((s, dir) => {
      // semantic incremental-index tier: vectors >= 400 probe the < 400
      // index with exhaustive probes (2^planes) so candidates are
      // provably complete and the all-pairs integer-cosine oracle pins
      // bucketing, collision, scoring, and the threshold; tables = 2
      // (one fully-probed table is already complete — the second
      // exercises the multi-table dedup without oracle-imposed cost)
      val e = t(s, dir, "embeddings")
      val idx = graft.ops.Dedup.embedIndex(
        e.filter(col("vec_id") < 100), "embedding", "vec_id", tables = 2)
      graft.ops.Dedup.incrementalEmbedCandidates(
        e.filter(col("vec_id") >= 100 && col("vec_id") < 1100), idx,
        "embedding", "vec_id", minCosPermille = 400L, probes = 16)
    }),
    "ns_corpus_overlap" -> ((s, dir) => {
      // Dataset-overlap audit: corpus-level MinHash signatures of two
      // document snapshots (portable hash family), joined per hash
      // component. The oracle recomputes every per-doc signature, takes
      // the same element-wise minima per corpus, and replays the match
      // flags — pinning signature, merge, and compare end to end.
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.corpusOverlap(
        graft.ops.Dedup.corpusSignature(
          docs.filter(col("doc_id") < 250), "text"),
        graft.ops.Dedup.corpusSignature(
          docs.filter(col("doc_id") >= 250), "text"))
    }),
    "ns_hybrid" -> ((s, dir) => {
      // Hybrid retrieval gate: RRF-fuse two rankings that are BOTH exactly
      // replayable — the integer tf/coverage keyword tier and the
      // exact-cosine vector tier — so the oracle pins the whole fusion
      // (contribution integer division, accumulation, final ranking).
      // hybridTopK's BM25+vector default follows the BM25 determinism
      // convention (float ranking gated in SearchSpec).
      val docs = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      val qv = e.filter(col("id") === 0).select("vec").head().getSeq[Double](0).toArray
      val text = graft.ops.Search.tfTopK(docs, "text", "doc_id",
        Seq("join", "filter", "data"), k = 100)
      val vec = graft.ops.Search.vectorTopK(e, qv, k = 100)
      graft.ops.Search.rrfFuse(Seq(text, vec), k = 50)
    }),
    "ns_embed_int8" -> ((s, dir) => {
      // int8 scalar quantization: the rounding chain is deterministic
      // IEEE double ops in fixed order, so codes replay bit-for-bit.
      // posexplode scalarizes the codes array — the check harness sorts
      // rows with pandas, which cannot order array cells.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      graft.ops.Similarity.quantizeInt8(e)
        .select(col("id"), col("vmin"), col("vmax"),
          posexplode(col("codes")).as(Seq("pos", "code")))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "ns_doc_stitch" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |e AS (SELECT * FROM d WHERE len(tk) >= 28),
        |halves AS (
        |  SELECT doc_id * 2 AS id, array_to_string(tk[1:16], ' ') AS text FROM e
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, array_to_string(tk[13:28], ' ') FROM e),
        |t2 AS (SELECT id, string_split_regex(trim(text), '\s+') AS t FROM halves
        |       WHERE len(trim(text)) > 0),
        |suf AS (SELECT id AS left_id, array_to_string(t[len(t)-3:len(t)], ' ')
        |          AS boundary_gram FROM t2 WHERE len(t) >= 4),
        |pre AS (SELECT id AS right_id, array_to_string(t[1:4], ' ')
        |          AS boundary_gram FROM t2 WHERE len(t) >= 4)
        |SELECT left_id, right_id, boundary_gram
        |FROM suf JOIN pre USING (boundary_gram)
        |WHERE left_id <> right_id""".stripMargin,
    "ns_embed_pca" -> pcaOracleSql,
    "ns_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "ns_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS grams
        |  FROM documents WHERE doc_id < 100
        |)
        |SELECT a.doc_id AS idA, b.doc_id AS idB,
        |       len(list_intersect(a.grams, b.grams)) AS n_common,
        |       len(list_distinct(list_concat(a.grams, b.grams))) AS n_union
        |FROM g a JOIN g b ON a.doc_id < b.doc_id""".stripMargin,
    "ns_mmr" ->
      """WITH RECURSIVE
        |base AS MATERIALIZED (
        |  SELECT c.vec_id AS id, c.embedding::DOUBLE[] AS v,
        |         list_cosine_similarity(c.embedding::DOUBLE[], q.qv) AS rel
        |  FROM embeddings c,
        |       (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
        |  WHERE c.vec_id >= 1 AND c.vec_id < 300),
        |st AS (
        |  -- msim starts NULL, not 0: a 0 sentinel would CLAMP negative
        |  -- similarities (greatest(0, -x) = 0) while the operator's
        |  -- max-over-selected keeps the true negative max; only the
        |  -- SCORE coalesces the empty-set diversity term to 0
        |  SELECT 0 AS r, id, v, rel, CAST(NULL AS DOUBLE) AS msim, CAST(NULL AS BIGINT) AS rk
        |  FROM base
        |  UNION ALL
        |  SELECT r + 1, st.id, st.v, st.rel,
        |    CASE WHEN st.rk IS NOT NULL OR st.id = w.id THEN st.msim
        |         WHEN st.msim IS NULL THEN list_cosine_similarity(st.v, w.v)
        |         ELSE greatest(st.msim, list_cosine_similarity(st.v, w.v)) END,
        |    CASE WHEN st.rk IS NOT NULL THEN st.rk
        |         WHEN st.id = w.id THEN CAST(r + 1 AS BIGINT) END
        |  -- micro-unit argmax (the operator's integer-contract grid):
        |  -- floor(score*1e6) before the compare, so ulps-level double
        |  -- divergence between engines cannot flip a near-tie pick
        |  FROM st, (SELECT id, v FROM st WHERE rk IS NULL
        |            ORDER BY CAST(floor((0.5 * rel - 0.5 * coalesce(msim, 0.0)) * 1000000) AS BIGINT) DESC, id LIMIT 1) w
        |  WHERE r < 8)
        |SELECT rk AS rank, id FROM st WHERE r = 8 AND rk IS NOT NULL""".stripMargin,
    "ns_embed_topk" -> exactTopKSql,
    "ns_rank_agreement" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
        |             list_min(embedding::DOUBLE[]) AS vmin,
        |             list_max(embedding::DOUBLE[]) AS vmax
        |           FROM embeddings WHERE vec_id < 300),
        |ra AS (SELECT query_id, neighbor_id, rank FROM (
        |    SELECT q.id AS query_id, c.id AS neighbor_id,
        |           row_number() OVER (PARTITION BY q.id
        |             ORDER BY list_cosine_similarity(q.vec, c.vec) DESC, c.id) AS rank
        |    FROM e q JOIN e c ON q.id < 50 AND q.id != c.id) WHERE rank <= 10),
        |dq AS (SELECT id, list_transform(vec, x -> CASE WHEN vmax = vmin THEN vmin
        |         ELSE vmin + least(greatest(round((x - vmin) * 255.0 / (vmax - vmin)), 0), 255)
        |              * (vmax - vmin) / 255.0 END) AS v
        |       FROM e),
        |rb AS (SELECT query_id, neighbor_id, rank FROM (
        |    SELECT q.id AS query_id, c.id AS neighbor_id,
        |           row_number() OVER (PARTITION BY q.id
        |             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.id) AS rank
        |    FROM dq q JOIN dq c ON q.id < 50 AND q.id != c.id) WHERE rank <= 10),
        |j AS (SELECT ra.query_id, ra.rank AS rka, rb.rank AS rkb
        |      FROM ra JOIN rb ON ra.query_id = rb.query_id
        |                     AND ra.neighbor_id = rb.neighbor_id),
        |nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n FROM ra),
        |cells AS (SELECT
        |  CAST(coalesce(sum(CASE WHEN rka <= 1 AND rkb <= 1 THEN 1 END), 0) AS BIGINT) AS o1,
        |  CAST(coalesce(sum(CASE WHEN rka <= 3 AND rkb <= 3 THEN 1 END), 0) AS BIGINT) AS o3,
        |  CAST(coalesce(sum(CASE WHEN rka <= 5 AND rkb <= 5 THEN 1 END), 0) AS BIGINT) AS o5,
        |  CAST(coalesce(sum(CASE WHEN rka <= 10 AND rkb <= 10 THEN 1 END), 0) AS BIGINT) AS o10
        |  FROM j),
        |u AS (SELECT CAST(1 AS BIGINT) AS depth, o1 AS sum_overlap FROM cells
        |      UNION ALL SELECT 3, o3 FROM cells
        |      UNION ALL SELECT 5, o5 FROM cells
        |      UNION ALL SELECT 10, o10 FROM cells)
        |SELECT depth, n AS n_queries, sum_overlap,
        |       CASE WHEN n > 0 THEN CAST((sum_overlap * 1000) // (n * depth) AS BIGINT)
        |            ELSE 0 END AS overlap_permille
        |FROM u, nq""".stripMargin,
    "ns_label_noise" ->
      """WITH b AS (SELECT vec_id AS id, label::BIGINT AS label,
        |                  embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id < 300),
        |nn AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.id AS query_id, c.id AS neighbor_id,
        |           row_number() OVER (PARTITION BY q.id
        |             ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.id) AS rank
        |    FROM b q JOIN b c ON q.id != c.id)
        |  WHERE rank <= 5),
        |votes AS (SELECT nn.query_id, b.label AS nl, CAST(count(*) AS BIGINT) AS c
        |          FROM nn JOIN b ON nn.neighbor_id = b.id GROUP BY 1, 2),
        |maj AS (SELECT query_id AS id, nl AS majority_label, c AS n_majority,
        |               CAST(sum(c) OVER (PARTITION BY query_id) AS BIGINT) AS n_neighbors,
        |               row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nl ASC) AS rn
        |        FROM votes)
        |SELECT b.id AS vec_id, b.label, m.majority_label, m.n_majority, m.n_neighbors,
        |       (m.majority_label <> b.label AND m.n_majority >= 3) AS flagged
        |FROM b JOIN maj m ON b.id = m.id AND m.rn = 1""".stripMargin,
    "ns_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, label AS ql, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 50),
        |     c AS (SELECT vec_id AS nid, label AS nl, embedding::DOUBLE[] AS cv
        |           FROM embeddings WHERE vec_id < 1000)
        |SELECT query_id, neighbor_id, neg_label, rank FROM (
        |  SELECT q.qid AS query_id, c.nid AS neighbor_id, c.nl AS neg_label,
        |         row_number() OVER (PARTITION BY q.qid
        |           ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.nid) AS rank
        |  FROM q JOIN c ON q.qid != c.nid AND q.ql IS DISTINCT FROM c.nl)
        |WHERE rank <= 5""".stripMargin,
    "ns_ann_lsh" -> exactTopKSql,
    "ns_ann_ivf" -> exactTopKSql,
    "ns_dedup_embed" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id < 1000)
        |SELECT a.vec_id AS idA, b.vec_id AS idB
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.vec, b.vec) >= 0.48""".stripMargin,
    // SemDeDup gate mode (nCentroids = 1): the operator's within-cell graph
    // is the exact pairwise ≥0.48 cosine graph, so the oracle recomputes
    // that graph and resolves connected components with a recursive
    // transitive closure (same construction as ns_dedup_cluster).
    "ns_semdedup" ->
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id < 1000
        |), prs AS (
        |  SELECT a.vec_id AS idA, b.vec_id AS idB
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.vec, b.vec) >= 0.48
        |), und AS (
        |  SELECT idA AS a, idB AS b FROM prs UNION ALL SELECT idB, idA FROM prs
        |), reach AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        |)
        |SELECT e.vec_id AS id,
        |       CAST(coalesce(least(e.vec_id, m.minb), e.vec_id) AS BIGINT) AS cluster_id,
        |       coalesce(least(e.vec_id, m.minb), e.vec_id) = e.vec_id AS keep
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 1000) e
        |LEFT JOIN (SELECT a, min(b) AS minb FROM reach GROUP BY a) m
        |  ON e.vec_id = m.a""".stripMargin,
    "ns_dedup_minhash" ->
      s"""WITH $minhashSigCtes
         |SELECT a.doc_id AS idA, b.doc_id AS idB,
         |       $minhashEstSql AS est_jaccard
         |FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |WHERE $minhashPairPredSql""".stripMargin,
    "ns_dedup_cluster" ->
      s"""WITH RECURSIVE $minhashSigCtes, prs AS (
         |  SELECT a.doc_id AS idA, b.doc_id AS idB
         |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |  WHERE $minhashPairPredSql
         |), und AS (
         |  SELECT idA AS a, idB AS b FROM prs UNION ALL SELECT idB, idA FROM prs
         |), reach AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
         |)
         |SELECT d.doc_id,
         |       CAST(coalesce(least(d.doc_id, m.minb), d.doc_id) AS BIGINT) AS cluster_id
         |FROM documents d
         |LEFT JOIN (SELECT a, min(b) AS minb FROM reach GROUP BY a) m ON d.doc_id = m.a""".stripMargin,
    "ns_cluster_stats" ->
      """WITH asg AS (SELECT doc_id AS id, doc_id % 97 AS cluster_id FROM documents),
        |cs AS (SELECT cluster_id, count(*) AS sz FROM asg GROUP BY 1)
        |SELECT CAST(sz AS BIGINT) AS cluster_size,
        |       CAST(count(*) AS BIGINT) AS n_clusters,
        |       CAST(sum(sz) AS BIGINT) AS n_docs,
        |       CAST(sum(sz) - count(*) AS BIGINT) AS dup_mass
        |FROM cs GROUP BY 1""".stripMargin,
    "ns_keep_best" ->
      """WITH cl AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 97 AS BIGINT) AS cluster_id,
        |         CAST(length(text) AS BIGINT) AS quality
        |  FROM documents
        |)
        |SELECT doc_id, cluster_id, quality,
        |       count(*) OVER (PARTITION BY cluster_id) AS n_members,
        |       row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) = 1 AS keep
        |FROM cl""".stripMargin,
    "ns_dedup_simhash" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |hh AS (SELECT doc_id, list_transform(toks, t -> ('0x' || substr(md5(t), 1, 16))::UBIGINT) AS hs FROM tk),
        |bt AS (
        |  SELECT doc_id, list_transform(range(0, 64), i ->
        |    list_sum(list_transform(hs, h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0) AS bits
        |  FROM hh
        |)
        |SELECT a.doc_id AS idA, b.doc_id AS idB,
        |       CAST(len(list_filter(range(1, 65), i -> a.bits[i] != b.bits[i])) AS INT) AS hamming
        |FROM bt a JOIN bt b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(range(1, 65), i -> a.bits[i] != b.bits[i])) <= 10
        |  AND len(list_filter(range(0, 4), c ->
        |        len(list_filter(range(1, 17), r -> a.bits[c*16 + r] != b.bits[c*16 + r])) = 0)) > 0""".stripMargin,
    "ns_incremental_simhash" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |hh AS (SELECT doc_id, list_transform(toks, t -> ('0x' || substr(md5(t), 1, 16))::UBIGINT) AS hs FROM tk),
        |bt AS (
        |  SELECT doc_id, list_transform(range(0, 64), i ->
        |    list_sum(list_transform(hs, h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0) AS bits
        |  FROM hh
        |)
        |SELECT b.doc_id AS batch_id, a.doc_id AS corpus_id,
        |       CAST(len(list_filter(range(1, 65), i -> a.bits[i] != b.bits[i])) AS INT) AS hamming
        |FROM bt a JOIN bt b ON a.doc_id < 250 AND b.doc_id >= 250
        |WHERE len(list_filter(range(1, 65), i -> a.bits[i] != b.bits[i])) <= 10
        |  AND len(list_filter(range(0, 4), c ->
        |        len(list_filter(range(1, 17), r -> a.bits[c*16 + r] != b.bits[c*16 + r])) = 0)) > 0""".stripMargin,
    "ns_audit_candidates" ->
      s"""WITH $minhashSigCtes, prs AS (
         |  SELECT a.doc_id AS idA, b.doc_id AS idB
         |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |  WHERE $minhashPairPredSql
         |), smp AS (
         |  SELECT idA, idB FROM prs
         |  WHERE (('0x' || substr(md5('graft-audit|' || idA || '|' || idB), 1, 8))::UBIGINT & 2147483647) % 1000 < 500
         |), g AS (
         |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS grams
         |  FROM documents
         |), v AS (
         |  SELECT len(list_intersect(a.grams, b.grams)) AS n_common,
         |         len(list_distinct(list_concat(a.grams, b.grams))) AS n_union
         |  FROM smp s JOIN g a ON s.idA = a.doc_id JOIN g b ON s.idB = b.doc_id
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_sampled,
         |       CAST(sum(CASE WHEN 1000 * n_common >= 500 * n_union THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |       CAST((1000 * sum(CASE WHEN 1000 * n_common >= 500 * n_union THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS precision_permille
         |FROM v""".stripMargin,
    "ns_audit_recall" ->
      s"""WITH $minhashSigCtes, prs AS (
         |  SELECT a.doc_id AS idA, b.doc_id AS idB
         |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |  WHERE $minhashPairPredSql
         |), sd AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id <= 2000
         |    AND (('0x' || substr(md5('graft-recall|' || doc_id), 1, 8))::UBIGINT & 2147483647) % 1000 < 600
         |), stk AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM sd
         |), g AS (
         |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |    ELSE list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) END AS grams
         |  FROM stk
         |), tr AS (
         |  SELECT a.doc_id AS idA, b.doc_id AS idB
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id
         |  WHERE 1000 * len(list_intersect(a.grams, b.grams))
         |        >= 500 * (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
         |), f AS (
         |  SELECT CASE WHEN p.idA IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM tr LEFT JOIN prs p ON tr.idA = p.idA AND tr.idB = p.idB
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_truth,
         |       CAST(sum(hit) AS BIGINT) AS n_found,
         |       CAST((1000 * sum(hit)) // greatest(count(*), 1) AS BIGINT) AS recall_permille
         |FROM f""".stripMargin,
    "ns_ranking_eval" ->
      s"""WITH pred AS ($exactTopKSql),
         |t AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id
         |      FROM embeddings a JOIN embeddings b
         |        ON a.label = b.label AND a.vec_id != b.vec_id
         |      WHERE a.vec_id < 50 AND b.vec_id < 1000),
         |j AS (SELECT t.query_id, t.doc_id, p.rank
         |      FROM t LEFT JOIN pred p
         |        ON t.query_id = p.query_id AND t.doc_id = p.neighbor_id)
         |SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant,
         |       CAST(sum(CASE WHEN rank <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
         |       CAST((1000 * sum(CASE WHEN rank <= 5 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS recall_at_k_permille,
         |       min(rank) AS first_hit_rank,
         |       CAST(coalesce(1000000 // min(rank), 0) AS BIGINT) AS rr_micro
         |FROM j GROUP BY 1""".stripMargin,
    "ns_embed_pool" ->
      """WITH q AS (
        |  SELECT label, list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
        |  FROM embeddings WHERE len(embedding) = 64),
        |e AS (SELECT label, unnest(range(1, 65)) AS i, unnest(qe) AS x FROM q)
        |SELECT label, CAST(i - 1 AS INT) AS dim_idx,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS mean_micro
        |FROM e GROUP BY 1, 2""".stripMargin,
    "ns_group_affinity" ->
      """WITH q AS (
        |  SELECT label, list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
        |  FROM embeddings WHERE len(embedding) = 64),
        |e AS (SELECT label, unnest(range(1, 65)) AS i, unnest(qe) AS x FROM q),
        |p AS (SELECT label, i, CAST(CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
        |      FROM e GROUP BY 1, 2),
        |n AS (SELECT label, CAST(sum(v * v) AS BIGINT) AS nsq FROM p GROUP BY 1),
        |d AS (SELECT a.label AS ga, b.label AS gb, CAST(sum(a.v * b.v) AS BIGINT) AS dot
        |      FROM p a JOIN p b ON a.i = b.i AND a.label < b.label
        |      GROUP BY 1, 2)
        |SELECT d.ga AS group_a, d.gb AS group_b, d.dot AS dot,
        |       CASE WHEN na.nsq > 0 AND nb.nsq > 0
        |            THEN CAST(floor(1000.0 * CAST(d.dot AS DOUBLE) /
        |                 (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))) AS BIGINT)
        |            ELSE 0 END AS cos_permille
        |FROM d JOIN n na ON d.ga = na.label JOIN n nb ON d.gb = nb.label""".stripMargin,
    "ns_embed_outliers" ->
      """WITH q AS (
        |  SELECT vec_id, label, list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
        |  FROM embeddings WHERE len(embedding) = 64),
        |e AS (SELECT label, unnest(range(1, 65)) AS i, unnest(qe) AS x FROM q),
        |p AS (SELECT label, i, CAST(CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS v
        |      FROM e GROUP BY 1, 2),
        |c AS (SELECT label, list(v ORDER BY i) AS cv FROM p GROUP BY 1),
        |d AS (SELECT q.vec_id AS id, q.label,
        |             CAST(list_sum(list_transform(range(1, 65),
        |               j -> (qe[CAST(j AS INT)] - cv[CAST(j AS INT)]) *
        |                    (qe[CAST(j AS INT)] - cv[CAST(j AS INT)]))) AS BIGINT) AS d2
        |      FROM q JOIN c ON q.label = c.label)
        |SELECT id, label, d2,
        |       CAST(row_number() OVER (PARTITION BY label ORDER BY d2 DESC, id) AS BIGINT) AS outlier_rank
        |FROM d""".stripMargin,
    "ns_embed_profile" ->
      """WITH q AS (
        |  SELECT list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
        |  FROM embeddings WHERE len(embedding) = 64),
        |e AS (SELECT unnest(range(1, 65)) AS i, unnest(qe) AS x FROM q)
        |SELECT CAST(i - 1 AS INT) AS dim_idx,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(x) AS BIGINT) AS sum_micro,
        |       CAST(CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS mean_micro,
        |       CAST(sum(x * x) AS BIGINT) AS sum_sq_micro2,
        |       CAST(min(x) AS BIGINT) AS min_micro,
        |       CAST(max(x) AS BIGINT) AS max_micro,
        |       (min(x) = max(x)) AS collapsed
        |FROM e GROUP BY 1""".stripMargin,
    "ns_embed_norms" ->
      """WITH q AS (
        |  SELECT list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
        |  FROM embeddings WHERE len(embedding) = 64),
        |n2 AS (SELECT CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS norm2 FROM q)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |       CAST(min(norm2) AS BIGINT) AS min_norm2,
        |       CAST(max(norm2) AS BIGINT) AS max_norm2,
        |       CAST(CAST(sum(norm2) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT) AS mean_norm2
        |FROM n2""".stripMargin,
    "ns_index_stats" ->
      s"""WITH $minhashSigCtes,
         |en AS (SELECT doc_id, bb AS band,
         |         array_to_string(sig[bb * 4 + 1 : bb * 4 + 4], ',') AS bucket
         |       FROM (SELECT doc_id, sig, unnest(range(0, 16)) AS bb FROM sg)),
         |b AS (SELECT band, bucket, count(*) AS sz FROM en GROUP BY 1, 2)
         |SELECT CAST(sz AS BIGINT) AS bucket_size,
         |       CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(sum(sz) AS BIGINT) AS n_entries
         |FROM b GROUP BY 1""".stripMargin,
    "ns_incremental_embed" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT)) AS v
        |           FROM embeddings WHERE len(embedding) = 64),
        |n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq FROM q),
        |s AS (SELECT a.vec_id AS batch_id, b.vec_id AS index_id,
        |        CASE WHEN a.nsq > 0 AND b.nsq > 0 THEN
        |          CAST(floor(1000.0 * CAST(list_sum(list_transform(range(1, 65),
        |                 j -> a.v[CAST(j AS INT)] * b.v[CAST(j AS INT)])) AS DOUBLE) /
        |               (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))) AS BIGINT)
        |        ELSE 0 END AS cos_permille
        |      FROM n a CROSS JOIN n b
        |      WHERE a.vec_id >= 100 AND a.vec_id < 1100 AND b.vec_id < 100)
        |SELECT batch_id, index_id, cos_permille FROM s WHERE cos_permille >= 400""".stripMargin,
    "ns_corpus_overlap" ->
      s"""WITH $minhashSigCtes, ex AS (
         |  SELECT doc_id, CAST(t.i AS INT) AS hash_idx, sig[t.i + 1] AS v
         |  FROM sg CROSS JOIN range(0, 64) AS t(i)
         |), ma AS (
         |  SELECT hash_idx, CAST(min(v) AS BIGINT) AS min_a FROM ex WHERE doc_id < 250 GROUP BY 1
         |), mb AS (
         |  SELECT hash_idx, CAST(min(v) AS BIGINT) AS min_b FROM ex WHERE doc_id >= 250 GROUP BY 1
         |)
         |SELECT ma.hash_idx, ma.min_a, mb.min_b,
         |       CAST(CASE WHEN ma.min_a = mb.min_b THEN 1 ELSE 0 END AS INT) AS is_match
         |FROM ma JOIN mb USING (hash_idx)""".stripMargin,
    "ns_embed_int8" ->
      """SELECT id, vmin, vmax, CAST(i AS INT) AS pos,
        |  CASE WHEN vmax = vmin THEN 0
        |    ELSE CAST(least(greatest(round((vec[CAST(i + 1 AS INT)] - vmin) * 255.0 / (vmax - vmin)), 0), 255) AS INT) END AS code
        |FROM (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
        |        list_min(embedding::DOUBLE[]) AS vmin,
        |        list_max(embedding::DOUBLE[]) AS vmax,
        |        unnest(range(len(embedding))) AS i
        |      FROM embeddings)""".stripMargin,
    "ns_margin_pairs" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
        |             list_min(embedding::DOUBLE[]) AS vmin,
        |             list_max(embedding::DOUBLE[]) AS vmax
        |           FROM embeddings WHERE vec_id < 1000),
        |cz AS (SELECT id, list_transform(vec, x -> CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
        |        ELSE CAST(least(greatest(round((x - vmin) * 255.0 / (vmax - vmin)), 0), 255) AS BIGINT) END) AS q
        |      FROM e),
        |qs AS (SELECT id, q FROM cz WHERE id < 50),
        |d AS (SELECT qs.id AS query_id, cz.id AS neighbor_id,
        |        CAST(list_sum(list_transform(range(len(qs.q)),
        |          i -> qs.q[CAST(i+1 AS INT)] * cz.q[CAST(i+1 AS INT)])) AS BIGINT) AS dot
        |      FROM qs JOIN cz ON qs.id != cz.id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank FROM d),
        |p AS (SELECT query_id,
        |        max(CASE WHEN rank = 1 THEN neighbor_id END) AS neighbor_id,
        |        max(CASE WHEN rank = 1 THEN dot END) AS dot,
        |        max(CASE WHEN rank = 2 THEN dot END) AS runner_up
        |      FROM r WHERE rank <= 2 GROUP BY query_id)
        |SELECT query_id, neighbor_id, dot, runner_up, dot - runner_up AS margin
        |FROM p WHERE runner_up IS NOT NULL AND dot - runner_up >= 30000""".stripMargin,
    "ns_kcenter" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
        |             list_min(embedding::DOUBLE[]) AS vmin,
        |             list_max(embedding::DOUBLE[]) AS vmax
        |           FROM embeddings WHERE vec_id < 500),
        |c AS (SELECT id, list_transform(vec, x -> CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
        |        ELSE CAST(least(greatest(round((x - vmin) * 255.0 / (vmax - vmin)), 0), 255) AS BIGINT) END) AS q
        |      FROM e),
        |c0 AS (SELECT q AS cq0 FROM c WHERE id = 0),
        |d1 AS (SELECT c.id, c.q,
        |         CAST(list_sum(list_transform(range(len(c.q)),
        |           i -> (c.q[CAST(i+1 AS INT)] - c0.cq0[CAST(i+1 AS INT)])
        |              * (c.q[CAST(i+1 AS INT)] - c0.cq0[CAST(i+1 AS INT)]))) AS BIGINT) AS md
        |       FROM c, c0),
        |s1 AS (SELECT id AS sid1, q AS cq1, md AS r1 FROM d1 ORDER BY md DESC, id LIMIT 1),
        |d2 AS (SELECT d1.id, d1.q,
        |         least(d1.md, CAST(list_sum(list_transform(range(len(d1.q)),
        |           i -> (d1.q[CAST(i+1 AS INT)] - s1.cq1[CAST(i+1 AS INT)])
        |              * (d1.q[CAST(i+1 AS INT)] - s1.cq1[CAST(i+1 AS INT)]))) AS BIGINT)) AS md
        |       FROM d1, s1),
        |s2 AS (SELECT id AS sid2, q AS cq2, md AS r2 FROM d2 ORDER BY md DESC, id LIMIT 1),
        |d3 AS (SELECT d2.id, d2.q,
        |         least(d2.md, CAST(list_sum(list_transform(range(len(d2.q)),
        |           i -> (d2.q[CAST(i+1 AS INT)] - s2.cq2[CAST(i+1 AS INT)])
        |              * (d2.q[CAST(i+1 AS INT)] - s2.cq2[CAST(i+1 AS INT)]))) AS BIGINT)) AS md
        |       FROM d2, s2),
        |s3 AS (SELECT id AS sid3, md AS r3 FROM d3 ORDER BY md DESC, id LIMIT 1)
        |SELECT CAST(0 AS BIGINT) AS rank, CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS radius_sq
        |UNION ALL SELECT 1, sid1, r1 FROM s1
        |UNION ALL SELECT 2, sid2, r2 FROM s2
        |UNION ALL SELECT 3, sid3, r3 FROM s3""".stripMargin,
    "ns_prototypes" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |c AS (SELECT * FROM (VALUES (0, 1), (1, 17), (2, 33), (3, 49)) AS t(cell, dim)),
        |s AS (SELECT vec_id, cell,
        |        vec[dim] / sqrt(list_sum(list_transform(vec, x -> x * x))) AS sim
        |      FROM v CROSS JOIN c),
        |a AS (SELECT vec_id, cell, sim,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
        |      FROM s),
        |r AS (SELECT vec_id AS id, cell, sim,
        |        row_number() OVER (PARTITION BY cell ORDER BY sim DESC, vec_id) AS rank,
        |        count(*) OVER (PARTITION BY cell) AS n_cell
        |      FROM a WHERE rn = 1)
        |SELECT id, CAST(cell AS BIGINT) AS cell, CAST(rank AS INT) AS rank,
        |       n_cell, rank > floor(0.3 * n_cell) AS keep
        |FROM r""".stripMargin,
    "ns_bm25" -> bm25PostingsOracleSql,
    "ns_bm25_indexed" -> bm25PostingsOracleSql,
    "ns_substring_candidates" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) < 8 THEN []
        |         ELSE list_transform(range(1, length(text) - 6), i ->
        |           ('0x' || substr(md5(substr(text, i, 8)), 1, 8))::UBIGINT & 2147483647) END AS hs
        |  FROM documents WHERE doc_id < 200
        |), f AS (
        |  SELECT doc_id, CASE WHEN len(hs) = 0 THEN []
        |    WHEN len(hs) <= 4 THEN [list_min(hs)]
        |    ELSE list_distinct(list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3]))) END AS fps
        |  FROM h
        |)
        |SELECT idA, idB, n_shared FROM (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB,
        |         CAST(len(list_intersect(a.fps, b.fps)) AS BIGINT) AS n_shared
        |  FROM f a JOIN f b ON a.doc_id < b.doc_id)
        |WHERE n_shared >= 30""".stripMargin,
    "ns_substr_dedup" ->
      s"""WITH inj AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN '$SubstrDedupTail' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN '$SubstrDedupTail$SubstrDedupTail' ELSE '' END AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM inj),
         |tok AS (SELECT doc_id, len(toks) AS n, unnest(range(0, len(toks))) AS tpos,
         |               unnest(toks) AS tok FROM tk),
         |sh AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos,
         |              unnest(list_transform(range(0, len(toks) - 7),
         |                i -> substr(md5('graft-ss|' || array_to_string(toks[i+1:i+8], ' ')), 1, 30))) AS k
         |       FROM tk WHERE len(toks) >= 8),
         |f AS (SELECT k, count(*) AS c, min(doc_id * 1000000 + pos) AS w
         |      FROM sh GROUP BY 1 HAVING count(*) >= 2),
         |m AS (SELECT sh.doc_id, sh.pos FROM sh JOIN f USING (k)
         |      WHERE sh.doc_id * 1000000 + sh.pos != f.w),
         |cov AS (SELECT doc_id, unnest(range(pos, pos + 8)) AS tpos FROM m),
         |kept AS (SELECT tok.* FROM tok ANTI JOIN cov USING (doc_id, tpos))
         |SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n_tokens, count(*) AS n_kept,
         |       string_agg(tok, ' ' ORDER BY tpos) AS text_dedup
         |FROM kept GROUP BY doc_id""".stripMargin,
    "ns_fuzzy_join" ->
      """WITH n AS (SELECT c_custkey AS id, c_name AS s FROM customer WHERE c_custkey <= 1000)
        |SELECT a.id AS idA, b.id AS idB, CAST(levenshtein(a.s, b.s) AS INT) AS dist
        |FROM n a JOIN n b ON a.id < b.id
        |WHERE levenshtein(a.s, b.s) <= 2""".stripMargin,
    "ns_jaccard_join" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |            FROM documents WHERE doc_id <= 1000),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) END AS grams
        |      FROM tk),
        |p AS (SELECT a.doc_id AS idA, b.doc_id AS idB,
        |        len(list_intersect(a.grams, b.grams)) AS n_common,
        |        len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS n_union
        |      FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT idA, idB, CAST(n_common AS INT) AS n_common, CAST(n_union AS INT) AS n_union
        |FROM p WHERE n_common * 1000 >= 500 * n_union""".stripMargin,
    "ns_containment_join" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |            FROM documents WHERE doc_id <= 1000),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) END AS grams
        |      FROM tk)
        |SELECT a.doc_id AS idSub, b.doc_id AS idSup,
        |  CAST(len(list_intersect(a.grams, b.grams)) AS INT) AS n_common,
        |  CAST(len(a.grams) AS INT) AS n_sub
        |FROM g a JOIN g b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.grams, b.grams)) * 1000 >= 700 * len(a.grams)""".stripMargin,
    "ns_jaro_winkler" ->
      """SELECT a.p_partkey AS id,
        |  CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6) AS BIGINT) AS sim_ppm
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1""".stripMargin,
    "ns_jw_join" ->
      """WITH n AS (SELECT p_partkey AS id, p_name AS s FROM part WHERE p_partkey <= 600)
        |SELECT a.id AS idA, b.id AS idB,
        |  CAST(floor(jaro_winkler_similarity(a.s, b.s) * 1e6) AS BIGINT) AS sim_ppm
        |FROM n a JOIN n b
        |  ON upper(substr(a.s, 1, 1)) = upper(substr(b.s, 1, 1)) AND a.id < b.id
        |WHERE jaro_winkler_similarity(a.s, b.s) >= 0.92""".stripMargin,
    "ns_entity_resolution" ->
      """WITH RECURSIVE n AS (SELECT p_partkey AS id, p_name AS s FROM part WHERE p_partkey <= 600),
        |prs AS (
        |  SELECT a.id AS idA, b.id AS idB FROM n a JOIN n b
        |  ON upper(substr(a.s, 1, 1)) = upper(substr(b.s, 1, 1)) AND a.id < b.id
        |  WHERE jaro_winkler_similarity(a.s, b.s) >= 0.92),
        |und AS (SELECT idA AS a, idB AS b FROM prs UNION ALL SELECT idB, idA FROM prs),
        |reach AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
        |SELECT n.id,
        |  CAST(coalesce(least(n.id, m.minb), n.id) AS BIGINT) AS cluster_id,
        |  (n.id = coalesce(least(n.id, m.minb), n.id)) AS is_canonical
        |FROM n LEFT JOIN (SELECT a, min(b) AS minb FROM reach GROUP BY a) m ON n.id = m.a""".stripMargin,
    "ns_snm_join" ->
      """WITH r AS (SELECT c_custkey, c_name,
        |    CAST(row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS BIGINT) AS pos
        |  FROM customer WHERE c_custkey <= 2000)
        |SELECT a.c_custkey AS idA, b.c_custkey AS idB, b.pos - a.pos AS dist
        |FROM r a JOIN r b ON b.pos > a.pos AND b.pos - a.pos < 5""".stripMargin,
    "ns_cross_corpus" ->
      """WITH u AS (
        |  SELECT 'wiki' AS source, 0 AS pri, doc_id AS id, md5(text) AS dg
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'web', 1, doc_id, md5(text) FROM documents WHERE doc_id % 3 <> 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY dg ORDER BY pri, id) AS rn FROM u),
        |w AS (SELECT dg, source AS winner_source, id AS winner_id FROM r WHERE rn = 1)
        |SELECT u.source, u.id,
        |  (u.source = w.winner_source AND u.id = w.winner_id) AS keep,
        |  w.winner_source, w.winner_id
        |FROM u JOIN w USING (dg)""".stripMargin,
    "ns_line_dedup" ->
      """WITH t2 AS (SELECT doc_id,
        |        string_split(regexp_replace(lower(trim(text)), '((?:\S+ ){4}\S+) ', '\1' || chr(10), 'g'), chr(10)) AS lines
        |      FROM documents),
        |l AS (SELECT doc_id, unnest(range(1, len(lines) + 1)) AS pos, unnest(lines) AS line,
        |             len(lines) AS n_lines FROM t2),
        |k AS (SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM l)
        |SELECT doc_id, CAST(any_value(n_lines) AS BIGINT) AS n_lines, count(*) AS n_kept,
        |       string_agg(line, chr(10) ORDER BY pos) AS text_dedup
        |FROM k WHERE rn = 1 OR line = '' GROUP BY doc_id""".stripMargin,
    "ns_line_dedup_doc" ->
      """WITH s AS (SELECT doc_id,
        |        regexp_replace(lower(trim(text)), '((?:\S+ ){4}\S+) ', '\1' || chr(10), 'g') AS st
        |      FROM documents),
        |w AS (SELECT doc_id,
        |        string_split(st || chr(10) || split_part(st, chr(10), 1), chr(10)) AS ls
        |      FROM s),
        |k AS (SELECT doc_id, ls,
        |        list_filter(range(len(ls)),
        |          i -> ls[CAST(i + 1 AS INT)] = ''
        |               OR list_position(ls, ls[CAST(i + 1 AS INT)]) = i + 1) AS keep
        |      FROM w)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |       CAST(len(keep) AS BIGINT) AS n_kept,
        |       array_to_string(list_transform(keep, i -> ls[CAST(i + 1 AS INT)]), chr(10)) AS text_dedup
        |FROM k""".stripMargin,
    "ns_ann_pq" -> exactTopKSql,
    "ns_ann_ivfpq" -> exactTopKSql,
    "ns_incremental_exact" ->
      """WITH corpus AS (
        |  SELECT md5(text) AS digest, min(doc_id) AS corpus_id
        |  FROM documents WHERE doc_id < 250 GROUP BY 1
        |), b AS (
        |  SELECT doc_id AS id, md5(text) AS digest FROM documents WHERE doc_id >= 250
        |), f AS (
        |  SELECT digest, min(id) AS first_id FROM b GROUP BY 1
        |)
        |SELECT b.id, c.corpus_id AS dup_of_corpus,
        |       b.id = f.first_id AS first_in_batch,
        |       c.corpus_id IS NULL AND b.id = f.first_id AS keep
        |FROM b JOIN f USING (digest) LEFT JOIN corpus c USING (digest)""".stripMargin,
    "ns_incremental_neardup" ->
      s"""WITH $minhashSigCtes
         |SELECT b.doc_id AS batch_id, a.doc_id AS corpus_id,
         |       $minhashEstSql AS est_jaccard
         |FROM sg a JOIN sg b ON a.doc_id < 250 AND b.doc_id >= 250
         |WHERE $minhashBandEqSql""".stripMargin,
    "ns_hybrid" ->
      """WITH post AS (
        |  SELECT id, count(*) AS n_terms, sum(tf) AS tf_total FROM (
        |    SELECT doc_id AS id, term, count(*) AS tf FROM (
        |      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |      FROM documents
        |    ) WHERE term IN ('join', 'filter', 'data') GROUP BY 1, 2
        |  ) GROUP BY 1
        |), trank AS (
        |  SELECT id, rank FROM (
        |    SELECT id, row_number() OVER (ORDER BY n_terms DESC, tf_total DESC, id) AS rank
        |    FROM post) WHERE rank <= 100
        |), vrank AS (
        |  SELECT id, rank FROM (
        |    SELECT vec_id AS id, row_number() OVER (ORDER BY
        |      list_cosine_similarity(embedding::DOUBLE[],
        |        (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) DESC,
        |      vec_id) AS rank
        |    FROM embeddings) WHERE rank <= 100
        |), u AS (
        |  SELECT id, 1000000000 // (60 + rank) AS c FROM trank
        |  UNION ALL
        |  SELECT id, 1000000000 // (60 + rank) AS c FROM vrank
        |), f AS (
        |  SELECT id, count(*) AS n_lists, sum(c)::BIGINT AS rrf_micro
        |  FROM u GROUP BY 1 ORDER BY rrf_micro DESC, id LIMIT 50
        |)
        |SELECT id, n_lists, rrf_micro,
        |       CAST(row_number() OVER (ORDER BY rrf_micro DESC, id) AS INT) AS rank
        |FROM f""".stripMargin
  )
}
