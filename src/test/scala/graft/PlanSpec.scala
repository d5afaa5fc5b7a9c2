package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Physical-plan quality gates: the properties that make these operators
  * survive a 100 TB scale-up. These assert on the *executed plan*, not
  * results — regressions here are silent performance cliffs.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val li = EntrySupport.t(spark, sf, "lineitem")
    val q = li.filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    val plan = planOf(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter must reach the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan must prune to the 2 projected columns:\n$plan")
  }

  test("compiled spec pipelines are shuffle-free narrow plans") {
    // B1 blacklist + extraction: filter + project only — no Exchange means
    // the whole transform pipelines in one stage and scales linearly.
    val q = SparkEntry.queries("b1_blacklist")(spark, sf)
    val plan = planOf(q)
    assert(!plan.contains("Exchange"), s"spec pipeline must not shuffle:\n$plan")
  }

  test("gjson array-query pipeline (c4) is a shuffle-free narrow plan") {
    // routing + #(pred) projection compile to filter + project like every
    // other spec pipeline — the array query must not change the plan class
    val plan = planOf(SparkEntry.queries("c4_array_query")(spark, sf))
    assert(!plan.contains("Exchange"), s"array-query pipeline must not shuffle:\n$plan")
  }

  test("open-ended dynamic sink columns (g4) stay narrow: map build + explode, no shuffle") {
    val plan = planOf(SparkEntry.queries("g4_open_dynamic")(spark, sf))
    assert(!plan.contains("Exchange"), s"dynamic-column sink stage must not shuffle:\n$plan")
    assert(plan.contains("Generate explode"), s"map explode expected:\n${plan.take(2000)}")
  }

  test("branch-scoped exclusion (b6) and raw-object extraction (c3) stay shuffle-free") {
    // branch excludes fold into the router predicate and raw extraction is
    // a projection — neither may change the narrow filter+project plan class
    Seq("b6_branch_exclusion", "c3_raw_json").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n$plan")
    }
  }

  test("kafka sink mapping (g7) is a narrow projection over the transform output") {
    val plan = planOf(SparkEntry.queries("g7_kafka_mapping")(spark, sf))
    assert(!plan.contains("Exchange"), s"kafka sink stage must not shuffle:\n$plan")
  }

  test("model-apply scans (classifier, pca, url-canonical) are shuffle-free projections") {
    // trained artifacts ride the task closure; applying them must never
    // introduce an exchange — the train-small/apply-everywhere contract
    Seq("ns_quality_classifier", "ns_embed_pca", "ns_url_canonical").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n$plan")
    }
  }

  test("spec pipelines fuse filter+extraction into ONE JSON parse per row") {
    // predicate + extraction run inside a single Generate node (flatMap);
    // a separate EventPredExpr filter stage — or Catalyst re-inlining a
    // nullable projection into a pushed-down filter — would parse every
    // event twice
    val plan = planOf(SparkEntry.queries("b1_blacklist")(spark, sf)).toLowerCase
    assert("extractfieldsgen".r.findAllIn(plan).size == 1,
      s"exactly one fused generator expected:\n${plan.take(2000)}")
    assert(!plan.contains("eventpredexpr") && !plan.contains("extractfieldsexpr"),
      s"no second parse stage may appear:\n${plan.take(2000)}")
  }

  test("small dimension joins broadcast (q5)") {
    val plan = planOf(SparkEntry.queries("q5_nation_rollup")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"nation/region must broadcast:\n$plan")
  }

  test("q1 aggregation has a partial (map-side) aggregate before the shuffle") {
    val plan = planOf(SparkEntry.queries("q1_agg")(spark, sf))
    // two HashAggregate nodes around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"partial agg expected:\n$plan")
  }

  test("minhash LSH computes the signature once (single project, no nested re-eval)") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val q = graft.ops.Dedup.minhashCandidates(docs, "text", "doc_id")
    val plan = planOf(q)
    // the single-pass expression appears in the plan; the legacy nested-HOF
    // shape (transform(... transform(...))) must not
    assert(plan.contains("minhashexpr") || plan.toLowerCase.contains("minhash"),
      s"MinHashExpr expected in plan:\n${plan.take(2000)}")
  }

  test("lshTopK dedup exchange carries ids+sim only, never the embedding arrays") {
    val e = EntrySupport.t(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val plan = planOf(graft.ops.Similarity.lshTopK(e.filter(col("id") < 10), e, k = 3))
    // the (query_id, neighbor_id) dedup plans as an aggregate whose only
    // buffered value is the scalar sim — vectors must not ride the exchange
    assert(plan.contains("Exchange hashpartitioning(query_id"), s"dedup exchange expected:\n${plan.take(2000)}")
    assert(plan.contains("first(sim"), s"sim must be computed before the dedup:\n${plan.take(2000)}")
    assert(!plan.contains("first(qv") && !plan.contains("first(cv"),
      s"embedding arrays must not enter the dedup exchange:\n${plan.take(3000)}")
  }

  test("IVF refinement sample is a narrow filter (no single-partition GlobalLimit funnel)") {
    val e = EntrySupport.t(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val plan = planOf(graft.ops.Similarity.refinementSample(e, maxRefineVectors = 10, seed = 7))
    assert(!plan.contains("GlobalLimit") && !plan.contains("Sort "),
      s"sampling must be per-row hash thresholding:\n$plan")
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("exact dedup groups on the digest, not the document bytes") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val plan = planOf(graft.ops.Dedup.exact(docs, "text", "doc_id"))
    // shuffle key must be the md5 digest column, keeping shuffle rows small
    assert(plan.contains("md5"), plan.take(1500))
    assert(plan.contains("Exchange hashpartitioning(__digest"), s"shuffle on digest expected:\n${plan.take(2000)}")
  }

  test("decontamination broadcasts the benchmark gram set (corpus side never shuffles grams)") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val q = graft.ops.Curation.decontaminate(
      docs.filter(col("doc_id") % 17 =!= 0), docs.filter(col("doc_id") % 17 === 0),
      "text", "doc_id", n = 4)
    val plan = planOf(q)
    // the corpus-side gram lookup must be a broadcast join (the benchmark
    // side may shuffle internally for its own distinct — it is tiny); a
    // SortMergeJoin here would shuffle every corpus gram
    assert(plan.contains("BroadcastHashJoin [gram"),
      s"benchmark grams must broadcast into the corpus-side join:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin [gram"),
      s"corpus grams must not shuffle-join:\n${plan.take(3000)}")
    // the corpus-side Generate must explode a MATERIALIZED attribute: if a
    // sibling expression lands in the Project Catalyst extracts above the
    // Generate, the whole tokenize+shingle pass re-runs once per exploded
    // gram — O(grams × doc), the regression this pins. (The inferred
    // isnotnull/size>0 guards below the Project re-eval the expression a
    // bounded 2 extra times per doc; that's a constant, not O(grams).)
    assert(plan.contains("Generate explode(__grams"),
      s"corpus grams must materialize below the Generate:\n${plan.take(3000)}")
    val aboveGenerate = plan.split("\\n").takeWhile(!_.contains("Generate explode")).mkString("\n")
    assert(!aboveGenerate.toLowerCase.contains("wordngramsexpr"),
      s"no gram re-evaluation above the Generate:\n${plan.take(3000)}")
  }

  test("line dedup resolves first-occurrence via partial agg on the line hash (no window sort)") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val structured = docs.select(col("doc_id"),
      regexp_replace(col("text"), " ", "\n").as("text"))
    val plan = planOf(graft.ops.Curation.lineDedup(structured, "text", "doc_id"))
    // a Window over the line key would hot-spot mega-duplicated lines into
    // one sorted partition; the min(struct) aggregate combines map-side
    assert(!plan.contains("Window"), s"no window over line key:\n${plan.take(2000)}")
    assert(plan.contains("Exchange hashpartitioning(__lh"),
      s"first-occurrence agg shuffles on the uniform line hash:\n${plan.take(2000)}")
  }

  test("quality filter is a narrow projection (one pass, zero shuffle)") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val plan = planOf(graft.ops.Curation.qualityFilter(docs, "text", "doc_id"))
    assert(!plan.contains("Exchange"), s"quality filter must not shuffle:\n${plan.take(2000)}")
    assert("curationstatsexpr".r.findAllIn(plan.toLowerCase).size == 1,
      s"stats expression must evaluate exactly once:\n${plan.take(2000)}")
  }

  test("stratified rate sampling is a pushable narrow predicate (zero shuffle)") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val plan = planOf(graft.ops.Curation.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 250), defaultPermille = 500))
    assert(!plan.contains("Exchange"), s"rate sampling must not shuffle:\n${plan.take(2000)}")
  }

  test("sequence packing shuffles once, keyed by pack_group, metadata only") {
    val plan = planOf(SparkEntry.queries("ns_pack")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"exactly the pack-group exchange expected:\n${plan.take(3000)}")
    assert(!plan.contains("Window"), s"no window sort in packing:\n${plan.take(3000)}")
    // everything above the exchange works on ids+lengths; the chunk text
    // column must be projected away before rows enter the shuffle
    val above = plan.substring(0, plan.indexOf("Exchange"))
    assert(!above.contains("chunk#"),
      s"chunk text may not cross the pack exchange:\n${above.take(3000)}")
  }

  test("eval-metric clip kernels: BLEU/ROUGE-N/chrF are row-local — zero exchanges beyond the pair frame") {
    // round-11: the per-pair clip runs in ONE bounded hash-multiset
    // kernel per row (BleuComponentsExpr / GramPrfCountsExpr), so the
    // (pair, n, gram) exchange, the two-stage generator, and the wide
    // pivot are GONE — the metric may add NO exchange over the shared
    // evalPairs frame (the TER / ROUGE-L zero-shuffle discipline; the
    // distributed forms survive as *Shuffled law witnesses)
    val pairPlan = planOf(EntrySupport.evalPairs(spark, sf))
    val pairEx = "Exchange".r.findAllIn(pairPlan).length
    for (name <- Seq("ns_bleu", "ns_rouge", "ns_chrf")) {
      val plan = planOf(EntriesCuration.queries(name)(spark, sf))
      val ex = "Exchange".r.findAllIn(plan).length
      assert(ex == pairEx,
        s"$name must add zero exchanges over the pair frame " +
          s"($ex vs $pairEx):\n${plan.take(2500)}")
      // the pair join evaluates ONCE: two text-side scans, no spine branch
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans == 2, s"$name pair join must evaluate once (2 scans), got $scans")
    }
    // ns_bleu has no generator at all; the per-n metrics explode only
    // the kernel's <= maxN pre-reduced structs — never raw grams
    val bleuPlan = planOf(EntriesCuration.queries("ns_bleu")(spark, sf))
    assert(!bleuPlan.contains("Generate"),
      s"ns_bleu must be generator-free (kernel clip):\n${bleuPlan.take(2500)}")
  }

  test("TER and ROUGE-L are zero-shuffle narrow plans (bounded per-row DP)") {
    // the scale claim on both operators is 'pure scan': truncation,
    // relabeling/LCS, and the permille ratios all evaluate per row —
    // an Exchange here would mean the DP accidentally became an
    // aggregation or the pair frame got re-keyed
    val ter = EntriesCuration.queries("ns_ter")(spark, sf)
    val rl = EntriesCuration.queries("ns_rouge_l")(spark, sf)
    for ((name, q) <- Seq("ns_ter" -> ter, "ns_rouge_l" -> rl)) {
      val plan = planOf(q)
      // the shared evalPairs frame carries ONE deliberate exchange (the
      // pre-amplification/pair-key repartition) + the pair join's
      // exchanges; the metric itself must add NONE beyond the pair
      // frame's own plan
      val pairPlan = planOf(EntrySupport.evalPairs(spark, sf))
      val pairEx = "Exchange".r.findAllIn(pairPlan).length
      val ex = "Exchange".r.findAllIn(plan).length
      assert(ex == pairEx,
        s"$name must add zero exchanges over the pair frame " +
          s"($ex vs $pairEx):\n${plan.take(2500)}")
    }
  }

  test("corpus BLEU/TER pool through partial aggregates (one-row reduce)") {
    val cb = EntriesCuration.queries("ns_corpus_bleu")(spark, sf)
    val plan = planOf(cb)
    // the corpus pooling must be a partial (map-side) aggregate over the
    // component frame — a single-partition global agg without partials
    // would funnel the pair-component rows to one task
    assert(plan.contains("partial_"),
      s"corpus pooling needs map-side partials:\n${plan.take(2500)}")
    val ct = EntriesCuration.queries("ns_corpus_ter")(spark, sf)
    assert(planOf(ct).contains("partial_"),
      s"corpus TER pooling needs map-side partials:\n${planOf(ct).take(2500)}")
  }

  test("corpus chrF/ROUGE-N and the pass@k rollup pool through partial aggregates") {
    // same regression class as the BLEU/TER pin: the per-n (or per-k)
    // reduce must combine map-side, never funnel component rows to one task
    for (name <- Seq("ns_corpus_chrf", "ns_corpus_rouge_n", "ns_passk_rollup")) {
      val plan = planOf(EntriesCuration.queries(name)(spark, sf))
      assert(plan.contains("partial_"),
        s"$name pooling needs map-side partials:\n${plan.take(2500)}")
    }
  }

  test("self-BLEU: kernel clip rides the ring join — no gram generator, no pre-amplification exchange") {
    // round-11: bleuComponents clips row-local, so the ~10^3x gram
    // explode the old pre-amplification repartition existed for is GONE
    // — and so must the repartition be (an exchange bought for an
    // amplification that no longer happens is pure cost). Pin both: the
    // ring position join survives (the pairing IS distributed work),
    // the plan is generator-free downstream of it.
    val plan = planOf(EntriesCuration.queries("ns_self_bleu")(spark, sf))
    assert(plan.contains("__sb_ppos"),
      s"ring position join missing:\n${plan.take(3000)}")
    assert(!plan.contains("Generate explode"),
      s"kernel clip must not explode grams:\n${plan.take(3000)}")
    assert(!plan.contains("REPARTITION_BY_NUM"),
      s"the pre-amplification repartition should be gone with the generator:\n${plan.take(3000)}")
  }

  test("BERTScore: the unit-pair join is pair-keyed, never a cross product") {
    // the operator's scale contract: per-pair |cand|x|ref| cost via an
    // equi-join on pair_id — a missing/renamed join key would silently
    // plan a cartesian over the whole unit corpus
    val q = EntriesCuration.queries("ns_bertscore")(spark, sf)
    val plan = planOf(q)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"unit-pair join degenerated to a product:\n${plan.take(3000)}")
    assert(plan.contains("pair_id"),
      s"join must key on pair_id:\n${plan.take(3000)}")
    // both max-matching directions reduce map-side
    assert(plan.contains("partial_max"),
      s"per-unit max must combine map-side:\n${plan.take(3000)}")
  }

  test("multi-ref BLEU / BERTScore-idf / approx-rand: keyed joins never degenerate to products, aggregates combine map-side") {
    // bleuComponentsMultiRef's round-11 scale contract: ONE pair-keyed
    // reference collect + ONE pair-keyed equi-join feed the row-local
    // max-clip kernel — a dropped key would plan a product over the
    // candidate x reference corpus
    val mr = planOf(EntriesCuration.queries("ns_bleu_multiref")(spark, sf))
    assert(!mr.contains("CartesianProduct") &&
      !mr.contains("BroadcastNestedLoopJoin"),
      s"multi-ref candidate-reference join degenerated to a product:\n${mr.take(3000)}")
    assert(mr.contains("collect_list"),
      s"the per-pair reference collect is the kernel's input contract:\n${mr.take(3000)}")
    // the clip itself is the bounded kernel — the only Generate allowed
    // is the input frame's own 2-struct reference explode, never a
    // per-gram fan-out (which would print as a wordGrams transform leg)
    assert(mr.contains("bleumultirefexpr"),
      s"the max-clip must be the row-local kernel:\n${mr.take(3000)}")
    // bertScoreIdf: the weight lookup is hinted broadcast (a
    // vocabulary-sized table must never shuffle the unit frame). The
    // idf table build itself carries ONE BroadcastNestedLoopJoin — the
    // one-row crossJoin(broadcast(totals)) convention — so the product
    // check here is CartesianProduct plus a cap of exactly that one
    // legitimate BNLJ occurrence per weight lookup side
    val bi = planOf(EntriesCuration.queries("ns_bertscore_idf")(spark, sf))
    assert(!bi.contains("CartesianProduct"),
      s"idf weight join degenerated to a product:\n${bi.take(3000)}")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(bi).length
    assert(bnlj <= 2,
      s"unexpected non-one-row nested-loop joins ($bnlj):\n${bi.take(3000)}")
    assert(bi.contains("BroadcastHashJoin"),
      s"the weight lookup must broadcast:\n${bi.take(3000)}")
    // the significance/CI tier reduces map-side onto replicate-sized
    // frames (the bootstrap partial-agg shape)
    Seq("ns_approx_rand", "ns_paired_bootstrap_ci").foreach { q =>
      val p = planOf(EntriesCuration.queries(q)(spark, sf))
      assert(p.contains("partial_"),
        s"$q must partial-aggregate map-side:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"),
        s"$q planned a product:\n${p.take(2000)}")
    }
  }

  test("self-BLEU: ring join stays position-keyed (never a product)") {
    val q = EntriesCuration.queries("ns_self_bleu")(spark, sf)
    val plan = planOf(q)
    // the pairing's scale contract: peer texts arrive through a position
    // equi-join (O(n·peers) rows) — the only tolerated nested-loop is
    // the <= 16-row broadcast peer-spec crossJoin
    assert(!plan.contains("CartesianProduct"),
      s"ring join degenerated to a product:\n${plan.take(3000)}")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1,
      s"only the peer-spec crossJoin may nested-loop ($bnlj):\n${plan.take(3000)}")
  }

  test("seqRepN is a zero-shuffle narrow plan; novelty and the paired bootstrap aggregate map-side") {
    // rep-n's scale claim is 'pure scan' (row-local distinct per doc)
    val rep = EntriesCuration.queries("ns_seq_rep_n")(spark, sf)
    assert(!planOf(rep).contains("Exchange"),
      s"seqRepN must not shuffle:\n${planOf(rep).take(2000)}")
    // novelty: the reference dedup, the doc rollups, and the bootstrap's
    // B-row replicate reduce must all combine map-side — a global agg
    // without partials would funnel gram/pair rows to one task
    for (name <- Seq("ns_ngram_novelty", "ns_paired_bootstrap")) {
      val plan = planOf(EntriesCuration.queries(name)(spark, sf))
      assert(plan.contains("partial_"),
        s"$name needs map-side partials:\n${plan.take(2500)}")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name joins must stay keyed:\n${plan.take(2500)}")
    }
  }

  test("exact substring dedup shuffles 120-bit keys, never gram text") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val q = graft.ops.Curation.exactSubstrDedup(docs, "text", "doc_id", minTokens = 8)
    val plan = planOf(q)
    // duplicated-gram resolution groups on the fixed-width md5 key with a
    // map-side partial aggregate; a 50-token gram riding that exchange
    // would amplify the corpus ~50x through the shuffle
    val aggLines = plan.linesIterator.filter(_.contains("HashAggregate(keys=[__k")).toSeq
    assert(aggLines.nonEmpty, s"key-grouped aggregation expected:\n${plan.take(3000)}")
    assert(aggLines.exists(_.contains("partial_")),
      s"map-side combine expected on the key aggregation:\n${aggLines.mkString("\n")}")
    assert(aggLines.forall(l => !l.contains("__g#")),
      s"gram text must not ride the key aggregation:\n${aggLines.mkString("\n")}")
    assert(plan.contains("LeftAnti"),
      s"token filtering must be a distributed anti join:\n${plan.take(3000)}")
  }

  test("dsir scoring with precomputed totals is a pure scan (zero shuffle, one feature pass)") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val totals = Array.fill(64)(1L)
    val q = graft.ops.Curation.dsirScores(docs, docs, "text", "doc_id", buckets = 64,
      targetTotals = Some(totals), rawTotals = Some(totals))
    val plan = planOf(q)
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n${plan.take(2000)}")
    assert("hashedngramcountsexpr".r.findAllIn(plan.toLowerCase).size == 1,
      s"one tokenize+hash pass per row:\n${plan.take(2000)}")
  }

  test("boilerplate signals are narrow with one tokenization pass; reassembly shuffles once") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val sig = planOf(graft.ops.Curation.lineSignals(docs, "text", "doc_id")).toLowerCase
    assert(!sig.contains("exchange"), s"line signals must not shuffle:\n${sig.take(2000)}")
    assert("tokensetcountsexpr".r.findAllIn(sig).size == 1,
      s"stopword counting tokenizes each line exactly once:\n${sig.take(2000)}")
    val full = planOf(SparkEntry.queries("ns_boilerplate")(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(full).size == 1,
      s"only the per-doc reassembly may shuffle:\n${full.take(3000)}")
  }

  test("vocabulary: partial-aggregated count, heap-based top-K (no global sort); split is narrow") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val plan = planOf(graft.ops.TextAnalysis.vocabulary(docs, "text", minCount = 2L, topK = 100))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"map-side combine must absorb hot tokens:\n${plan.take(2500)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must be per-partition heaps + driver merge, not a global sort:\n${plan.take(2500)}")
    val split = planOf(graft.ops.Curation.assignSplit(docs, "doc_id"))
    assert(!split.contains("Exchange"), s"split assignment must not shuffle:\n${split.take(2000)}")
  }

  test("centroid assignment evaluates the centroid scan ONCE per row (scalar non-null expr)") {
    // the nullable array-index form (nearestCentroids(..,1)(0)) makes the
    // cell a nullable join key, so Catalyst inserts an isnotnull(...)
    // pre-join filter that re-runs the whole O(nCentroids·dim) scan a
    // second time per row — at 100 TB that doubles the assignment stage
    val e = EntrySupport.t(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val plan = planOf(graft.ops.Dedup.semanticDedup(e, "vec", "id",
      threshold = 0.48, nCentroids = 2)).toLowerCase
    assert(!plan.contains("isnotnull(nearestcentroid"),
      s"no isnotnull re-evaluation of the centroid scan:\n${plan.take(1500)}")
  }

  test("lm scoring: token arrays never cross a shuffle; model joins + final agg are partial-aggregated") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val model = graft.ops.Lm.train(docs.filter(col("doc_id") < 50), "text")
    val plan = planOf(graft.ops.Lm.score(docs, "text", "doc_id", model))
    // every Exchange keys on scalar token/id columns — the toks array is
    // pruned before any join or aggregation exchange
    "Exchange hashpartitioning\\(([a-z_]+)#".r.findAllMatchIn(plan).foreach { m =>
      assert(Set("doc_id", "p", "tok", "t").contains(m.group(1)),
        s"unexpected shuffle key ${m.group(1)}:\n${plan.take(3000)}")
    }
    assert("partial_count".r.findAllIn(plan).nonEmpty,
      s"count tables and final agg must map-side combine:\n${plan.take(3000)}")
  }

  test("bm25: df table broadcasts; top-k is per-partition heaps, not a global sort") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val plan = planOf(graft.ops.Search.bm25(docs, "text", "doc_id",
      Seq("join", "filter"), k = 10))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject:\n${plan.take(2500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"document frequencies must broadcast:\n${plan.take(2500)}")
  }

  test("prototypicality: centroid lookup broadcasts; one cell exchange serves both windows") {
    val e = EntrySupport.t(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val plan = planOf(graft.ops.Similarity.prototypicality(e, "vec", "id", nCentroids = 2))
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid lookup must broadcast:\n${plan.take(2500)}")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"rank and n_cell windows must share one cell exchange:\n${plan.take(2500)}")
  }

  test("PQ ANN: corpus encodes in the scan stage; only (ids, sim) reach the ranking exchange") {
    val e = EntrySupport.t(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val model = graft.ops.Similarity.trainPq(e, m = 8, ksub = 16)
    val plan = planOf(graft.ops.Similarity.pqTopK(
      e.filter(col("id") < 10), e, k = 3, model = Some(model)))
    assert(plan.contains("Exchange hashpartitioning(query_id"),
      s"ranking exchange expected:\n${plan.take(2500)}")
    // the projection feeding the exchange is exactly (query_id, neighbor_id,
    // sim): neither the embedding, the codes, nor the per-query LUT arrays
    // survive past the join stage
    assert("Project \\[query_id#\\d+L?, neighbor_id#\\d+L?, pqadcexpr".r.findFirstIn(plan).nonEmpty,
      s"pre-exchange projection must be ids+sim only:\n${plan.take(3000)}")
    assert(plan.contains("row_number(), 3, Partial"),
      s"map-side partial top-k (WindowGroupLimit) expected before the exchange:\n${plan.take(3000)}")
    assert("pqencodeexpr".r.findAllIn(plan.toLowerCase).size == 1,
      s"corpus must encode exactly once, in its scan stage:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bounded query side must broadcast:\n${plan.take(2500)}")
  }

  test("IVFADC: cell equi-join on broadcast query side; corpus carries codes, never vectors") {
    val e = EntrySupport.t(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val cents = graft.ops.Similarity.trainCentroids(e, nCentroids = 4)
    val model = graft.ops.Similarity.trainPq(e, m = 8, ksub = 16)
    val plan = planOf(graft.ops.Similarity.ivfPqTopK(
      e.filter(col("id") < 10), e, k = 3, nCentroids = 4, nprobe = 2,
      centroids = Some(cents), model = Some(model)))
    // the coarse cell is an EQUI-join key (the pruning claim) — never the
    // pq tier's nested-loop over the whole corpus
    assert(plan.contains("BroadcastHashJoin [cell"),
      s"cell must be a broadcast equi-join key:\n${plan.take(2500)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs condition may remain:\n${plan.take(2500)}")
    // pre-exchange projection is ids+sim only: codes, LUTs and embeddings
    // all die at the join stage (the pqTopK slim-exchange claim, composed)
    assert("Project \\[query_id#\\d+L?, neighbor_id#\\d+L?, pqadcexpr".r.findFirstIn(plan).nonEmpty,
      s"pre-exchange projection must be ids+sim only:\n${plan.take(3000)}")
    assert("pqencodeexpr".r.findAllIn(plan.toLowerCase).size == 1,
      s"corpus must encode exactly once, in its scan stage:\n${plan.take(3000)}")
  }

  test("pHash banding: media scan prunes to (id, payload); band join keys the exchange") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val media = graft.ops.Multimodal.fromDocuments(docs, "doc_id", "text", "text/plain")
    val plan = planOf(graft.ops.Multimodal.phashCandidates(media, maxDist = 3))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"media scan must prune to id+payload:\n${plan.take(2500)}")
    assert(plan.contains("Exchange hashpartitioning(band"),
      s"candidate join must key on (band, chunk):\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs join:\n${plan.take(2500)}")
  }

  test("incremental exact dedup: every exchange keys on the digest; text dies at the scan") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val idx = graft.ops.Dedup.exactIndex(docs.filter(col("doc_id") < 250), "text", "doc_id")
    val plan = planOf(graft.ops.Dedup.incrementalExact(
      docs.filter(col("doc_id") >= 250), idx, "text", "doc_id"))
    "Exchange hashpartitioning\\(([a-zA-Z_]+)#".r.findAllMatchIn(plan).foreach { m =>
      assert(m.group(1) == "digest",
        s"only the 16-byte digest may key a shuffle, got ${m.group(1)}:\n${plan.take(3000)}")
    }
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to id+text:\n${plan.take(2000)}")
  }

  test("pipeline disposition: ONE corpus scan, one digest-keyed exchange") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val plan = planOf(graft.ops.Pipelines.disposition(docs, "text", "doc_id"))
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"all stages must fuse into one corpus pass:\n${plan.take(2500)}")
    "Exchange hashpartitioning\\(([a-zA-Z_]+)#".r.findAllMatchIn(plan).foreach { m =>
      assert(m.group(1) == "digest",
        s"only the digest may key a shuffle, got ${m.group(1)}:\n${plan.take(2500)}")
    }
  }

  test("bucketed index tables join with NO exchange on either side") {
    import org.apache.spark.sql.functions.md5
    val docs = EntrySupport.t(spark, sf, "documents")
    val idx = graft.ops.Dedup.exactIndex(docs, "text", "doc_id")
    val batch = docs.select(col("doc_id"), md5(col("text")).as("digest"))
    graft.ops.Tables.writeBucketed(idx, "t_exact_idx", "digest", 4)
    graft.ops.Tables.writeBucketed(batch, "t_batch", "digest", 4)
    // broadcast would win at toy scale and hide the bucketed shape — the
    // 100 TB case this gates is two index-sized sides where broadcast is
    // impossible and the bucketed zip is the only shuffle-free plan
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = graft.ops.Tables.readBucketed(spark, "t_batch")
        .join(graft.ops.Tables.readBucketed(spark, "t_exact_idx"), "digest")
      assert(j.count() > 0)
      val plan = planOf(j)
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n${plan.take(2500)}")
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must be exchange-free:\n${plan.take(2500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS t_exact_idx")
      spark.sql("DROP TABLE IF EXISTS t_batch")
    }
  }

  test("frame near-dup: banded (frame, fp) join, partial-aggregated overlap counts") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val media = graft.ops.Multimodal.fromDocuments(docs, "doc_id", "text", "text/plain")
    val plan = planOf(graft.ops.Multimodal.frameNearDupCandidates(media))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate join must be banded, never all-pairs:\n${plan.take(2500)}")
    assert("partial_count".r.findAllIn(plan).nonEmpty,
      s"overlap counts must map-side combine:\n${plan.take(2500)}")
  }

  test("rrf fusion: top-k plans as TakeOrderedAndProject, contributions partial-aggregate") {
    import org.apache.spark.sql.functions.lit
    val docs = EntrySupport.t(spark, sf, "documents")
    val text = graft.ops.Search.tfTopK(docs, "text", "doc_id", Seq("join", "filter"), k = 50)
    val ids = docs.select(col("doc_id").as("id"),
      (col("doc_id") % 50 + lit(1)).cast("int").as("rank"))
    val plan = planOf(graft.ops.Search.rrfFuse(Seq(text, ids), k = 10))
    assert(plan.contains("TakeOrderedAndProject"),
      s"fusion top-k must be per-partition heaps:\n${plan.take(2500)}")
    assert("partial_count".r.findAllIn(plan).nonEmpty || plan.contains("partial_sum"),
      s"contribution sums must map-side combine:\n${plan.take(2500)}")
  }

  test("domain tagging is projection-only; domain stats partial-aggregate") {
    val docs = EntrySupport.t(spark, sf, "documents")
      .selectExpr("doc_id", "concat('https://', source, '.example.com/', doc_id) AS url")
    val tag = planOf(graft.ops.Web.domainTag(docs, "url", blocklist = Seq("x.example.com")))
    assert(!tag.contains("Exchange"), s"domain tagging must not shuffle:\n${tag.take(2000)}")
    val stats = planOf(graft.ops.Web.domainStats(docs, "url"))
    assert("HashAggregate".r.findAllIn(stats).size >= 2,
      s"map-side partial aggregation expected:\n${stats.take(2000)}")
  }

  test("link extraction is scan-stage; edge aggregation partial-aggregates, doc text stays out of the exchange") {
    val docs = EntrySupport.t(spark, sf, "documents")
      .selectExpr("doc_id", "concat('https://', source, '.example.com/d/', doc_id) AS url",
        "concat('<a href=\"/x/', doc_id, '\">a</a>', text) AS text")
    val links = graft.ops.Web.extractLinks(docs, "text", "url", "doc_id")
    val lp = planOf(links)
    assert(!lp.contains("Exchange"),
      s"regex extraction + resolution must not shuffle:\n${lp.take(2000)}")
    val ep = planOf(graft.ops.Web.linkEdges(links, "url", "doc_id"))
    assert("HashAggregate".r.findAllIn(ep).size >= 2,
      s"map-side partial aggregation expected:\n${ep.take(2500)}")
    // the edge exchange carries domains + doc ids, never the markup: the
    // pre-exchange aggregate's output must not include the text column
    val exchangeRows = ep.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeRows.nonEmpty && exchangeRows.forall(!_.contains("text")),
      s"markup must not ride the edge exchange:\n${ep.take(2500)}")
  }

  test("keyProfile: partial-agg counts, heap top-k, one-row totals broadcast") {
    val e = EntrySupport.t(spark, sf, "events")
    val plan = planOf(graft.ops.Skew.keyProfile(e.select(col("event_type")), Seq("event_type"), k = 5))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps, not a global sort:\n${plan.take(2500)}")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"per-key counts must map-side combine:\n${plan.take(2500)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"totals must broadcast as one row:\n${plan.take(2500)}")
  }

  test("domainFilterTable: broadcast anti join, corpus side stays scan-stage") {
    val docs = EntrySupport.t(spark, sf, "documents")
      .selectExpr("doc_id", "concat('https://', source, '.example.com/d/', doc_id) AS url")
    val bl = Seq("x.example.com").toDF("domain")
    val plan = planOf(graft.ops.Web.domainFilterTable(docs, "url", bl))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"blocklist must broadcast-anti join:\n${plan.take(2500)}")
    assert(!plan.replace("BroadcastExchange", "").contains("Exchange"),
      s"the corpus side must not shuffle:\n${plan.take(2500)}")
  }

  test("registrableDomainTable: per-length broadcast joins, corpus side never shuffles") {
    import spark.implicits._
    val hosts = EntrySupport.t(spark, sf, "documents")
      .selectExpr("doc_id", "concat(source, '.example.co.uk') AS host")
    val psl = Seq("uk", "co.uk", "com.au", "github.io").toDF("suffix")
    val df = graft.ops.Web.registrableDomainTable(hosts, "host", psl)
    val plan = planOf(df)
    // one broadcast hash join per candidate suffix length (default 4)
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 4,
      s"expected 4 per-length broadcast joins:\n${plan.take(3000)}")
    // the suffix table broadcasts (its tiny dedup exchange is fine); no
    // shuffle may sit on the corpus lineage — walk the tree and check
    // every ShuffleExchange subtree for the documents scan
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val corpusShuffles = exec.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if s.collectLeaves().exists(_.toString.contains("documents")) => s
    }
    assert(corpusShuffles.isEmpty,
      s"the corpus side must not shuffle:\n${corpusShuffles.mkString("\n").take(2000)}")
  }

  test("keywords: partial-agg tf, one-row n_docs broadcast, per-partition heap rank") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val plan = planOf(graft.ops.TextAnalysis.keywords(docs, "text", "doc_id", k = 5))
    // tf and df both map-side combine before their exchanges
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"partial aggregation expected for tf and df:\n${plan.take(3000)}")
    // the corpus size joins as a broadcast single row, not a driver action
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"n_docs must broadcast:\n${plan.take(3000)}")
    // rank<=k plans as per-partition heaps ahead of the final window
    assert(plan.contains("WindowGroupLimit"),
      s"top-k must push into WindowGroupLimit:\n${plan.take(3000)}")
  }

  test("sketch-tier profile: tokens never shuffle — HLL/GK sketches partial-aggregate map-side") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val plan = planOf(graft.ops.Profile.groupProfileSketch(docs, "text", "lang"))
    // the distinct-token branch must partially aggregate the HLL sketch
    // BEFORE its exchange: the shuffle then carries one sketch row per
    // (partition, group) instead of the corpus token stream
    assert(plan.contains("partial_approx_count_distinct"),
      s"map-side HLL partial expected:\n${plan.take(3000)}")
    // the quantile branch likewise merges GK sketches, not raw lengths
    assert(plan.contains("partial_percentile_approx"),
      s"map-side GK partial expected:\n${plan.take(3000)}")
    // no rank window: sketches replace the exact tier's per-group sort
    assert(!plan.contains("Window"), s"sketch tier must not rank documents:\n${plan.take(3000)}")
  }

  test("heavy hitters: vocabulary-sized exchange (partial counts), never raw tokens") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val plan = planOf(graft.ops.Profile.heavyHitters(docs, "text", "lang", 5))
    assert("partial_count".r.findAllIn(plan).nonEmpty,
      s"token counts must map-side combine before the exchange:\n${plan.take(3000)}")
  }

  test("as-of join plans as union + ONE key exchange — no join node at all") {
    val e = EntrySupport.t(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
    val l = e.filter(col("event_id") % 2 === 0)
    val r = e.filter(col("event_id") % 2 === 1)
    val plan = planOf(graft.ops.Temporal.asofJoin(l, r, Seq("user_id"), "t"))
    assert(!plan.contains("Join"),
      s"as-of must not build a join (union+window formulation):\n${plan.take(3000)}")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"exactly one key exchange expected:\n${plan.take(3000)}")
  }

  test("funnel: N steps ride ONE key exchange (chained sort-free windows, no joins)") {
    val e = EntrySupport.t(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_type"))
    val plan = planOf(graft.ops.Temporal.funnel(e, Seq("user_id"), "t", Seq(
      col("event_type") === "signup",
      col("event_type") === "click",
      col("event_type") === "purchase")))
    assert(!plan.contains("Join"), s"funnel must not join:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"one key exchange for all steps expected:\n${plan.take(3000)}")
  }

  test("snapshotDiff exchanges carry (id, digest) only — document text never shuffles") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // force the at-scale SMJ shape (toy-scale sides would broadcast:
    // BNLJ supports full outer)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = EntrySupport.t(spark, sf, "documents")
      val diff = graft.ops.Tables.snapshotDiff(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 100),
        "doc_id", "text")
      // AQE wraps the plan in a leaf AdaptiveSparkPlanExec — unwrap to see
      // the join (at sf0.001 the one-file scan is a single partition, so
      // no exchange materializes; the load-bearing property is that the
      // join INPUTS are already (id, digest)-slim, which also bounds
      // whatever exchange EnsureRequirements inserts at real scale)
      val root = diff.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val joinInputs = root.collect {
        case j: SortMergeJoinExec => j.children.map(_.output.map(_.name))
      }.flatten
      assert(joinInputs.nonEmpty,
        s"full-outer digest SMJ expected:\n${root.toString.take(2500)}")
      assert(joinInputs.flatten.forall(n => n == "doc_id" || n.endsWith("_digest")),
        s"only (id, digest) may enter the join (and thus any exchange), got $joinInputs")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("corpus signature reduces map-side: partial aggregate, 64-row exchange") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val plan = planOf(graft.ops.Dedup.corpusSignature(docs, "text"))
    // two HashAggregate nodes around the hash_idx exchange = the corpus
    // reduces to numHashes rows per partition BEFORE shuffling
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial min-aggregate expected:\n${plan.take(2500)}")
    assert(plan.contains("Exchange hashpartitioning(hash_idx"),
      s"only the 64-row hash_idx exchange expected:\n${plan.take(2500)}")
  }

  test("embedding profile partial-aggregates: exchange bounded by dim rows per partition") {
    val e = EntrySupport.t(spark, sf, "embeddings")
    val plan = planOf(graft.ops.Embeddings.embeddingProfile(e, "embedding", dim = 64))
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial moment-aggregate expected:\n${plan.take(2500)}")
    assert(plan.contains("Exchange hashpartitioning(dim_idx"),
      s"dim_idx exchange expected:\n${plan.take(2500)}")
  }

  test("epochShuffle: windows partition by hash bucket — no global single-partition window") {
    val docs = EntrySupport.t(spark, sf, "documents")
    val q = graft.ops.Curation.epochShuffle(docs, "doc_id", epoch = 0)
    val plan = planOf(q)
    // the rank window must run per-bucket: its exchange hashes on __bk
    assert(plan.contains("Exchange hashpartitioning(__bk"),
      s"bucketed rank exchange expected:\n${plan.take(3000)}")
    // no global-order window over the data: the only SinglePartition
    // exchange allowed is the <= buckets-row offsets aggregate, which must
    // feed a broadcast — the row-data join side must be broadcast, not
    // merged through a global sort
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"offsets must broadcast back:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"offsets join must not sort-merge the corpus:\n${plan.take(3000)}")
  }

  test("jaroWinkler join: shuffled equi-join on the block key, never a product") {
    val plan = planOf(SparkEntry.queries("ns_jw_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"blocking join must be an equi-join:\n${plan.take(3000)}")
  }

  test("exact jaccard join: prefix rank windows per doc, candidate join never a product") {
    val plan = planOf(SparkEntry.queries("ns_jaccard_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"prefix-filtered join must stay equi:\n${plan.take(3000)}")
    // the rank window must partition by doc id — a global token sort
    // would single-partition the corpus
    assert(plan.contains("row_number() windowspecdefinition(__id#"),
      s"per-doc rank window expected:\n${plan.take(3000)}")
  }

  test("correlation matrix: ONE aggregation over the scan, partial map-side, no join") {
    val plan = planOf(SparkEntry.queries("ns_correlation")(spark, sf))
    assert(!plan.contains("Join"), s"one-scan matrix must not join:\n${plan.take(3000)}")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"co-moments must partial-aggregate:\n${plan.take(3000)}")
    // exactly one Exchange: the single-row final aggregate
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected the lone final-agg exchange, got $exchanges:\n${plan.take(3000)}")
  }

  test("resample: every data window partitions by the series key") {
    val plan = planOf(SparkEntry.queries("ns_resample")(spark, sf))
    // both the LOCF carry and any rank windows must be keyed — a keyless
    // window would single-partition the series
    assert(plan.contains("windowspecdefinition(user_id#"),
      s"key-partitioned window expected:\n${plan.take(3000)}")
    assert(!plan.contains("windowspecdefinition(specifiedwindowframe") ||
      !plan.contains("Window [last("),
      s"unkeyed window suspected:\n${plan.take(3000)}")
  }

  test("changelog merge: one delta-sized winner aggregate, partial-agg shape") {
    val plan = planOf(SparkEntry.queries("ns_changelog_merge")(spark, sf))
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"),
      s"winner rule must partial-aggregate map-side:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"merge join must stay equi:\n${plan.take(3000)}")
  }

  test("journey match: single partial collect per key, no product") {
    val plan = planOf(SparkEntry.queries("ns_journey_match")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"journey build is one aggregation:\n${plan.take(3000)}")
    assert(plan.contains("partial_collect_list") || plan.contains("objecthashaggregate") ||
      plan.contains("ObjectHashAggregate"),
      s"collect must partial-aggregate:\n${plan.take(3000)}")
  }

  test("sorted-neighborhood join: block equi-join, per-bucket rank, no global row window") {
    val plan = planOf(SparkEntry.queries("ns_snm_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"neighborhood join must be a block equi-join:\n${plan.take(3000)}")
    // the data-sized rank window must partition by bucket; the only
    // unpartitioned window is the <=buckets-row offset prefix sum
    assert(plan.contains("windowspecdefinition(__bk#"),
      s"per-bucket rank window expected:\n${plan.take(3000)}")
  }

  test("triangles: wedge and closure stages are equi-joins, never a product") {
    val plan = planOf(SparkEntry.queries("ns_triangles")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"oriented wedge/closure joins must stay equi:\n${plan.take(3000)}")
  }

  test("containment join: sub-prefix vs full-posting equi-join, never a product") {
    val plan = planOf(SparkEntry.queries("ns_containment_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"containment candidates must stay equi:\n${plan.take(3000)}")
    assert(plan.contains("row_number() windowspecdefinition(__id#"),
      s"per-doc prefix rank window expected:\n${plan.take(3000)}")
  }

  test("range join plans as a hash-joinable equi-join on buckets, not a nested loop") {
    val plan = planOf(SparkEntry.queries("ns_range_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bucketized range join must not nested-loop:\n${plan.take(3000)}")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"equi-join on (keys, bucket) expected:\n${plan.take(3000)}")
  }

  test("neighborJaccard: wedge/pair stages are equi-joins, never a product") {
    val plan = planOf(SparkEntry.queries("ns_neighbor_jaccard")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration must stay an equi-join on the center node:\n${plan.take(3000)}")
  }

  test("anomalies: all three reference aggregates ride ONE window over ONE key exchange") {
    val plan = planOf(SparkEntry.queries("ns_anomalies")(spark, sf))
    val windows = "(?m)^.*Window .*$".r.findAllIn(plan).size
    assert(windows == 1, s"n/s/q must share one Window node, found $windows:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"no join belongs in the screen:\n${plan.take(2000)}")
  }

  test("fileStats: manifest rollup is one partial aggregate, no join, no window") {
    val plan = planOf(SparkEntry.queries("ns_file_stats")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(3000)}")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"manifest must be a bare aggregate over the scan:\n${plan.take(2000)}")
  }

  test("gaps: one key exchange, one window, no join") {
    val plan = planOf(SparkEntry.queries("ns_gaps")(spark, sf))
    val windows = "(?m)^.*Window .*$".r.findAllIn(plan).size
    assert(windows == 1 && !plan.contains("Join"),
      s"gap detection is a single lag pass:\n${plan.take(2000)}")
  }

  test("functionalDependencies: distinct-combo partial aggregates, no row-sized exchange") {
    val plan = planOf(SparkEntry.queries("ns_fd")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(3000)}")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"pairs evaluate independently, no join:\n${plan.take(2000)}")
  }

  test("crossTab: one partial-aggregated cell exchange; marginals never re-scan rows") {
    val plan = planOf(SparkEntry.queries("ns_crosstab")(spark, sf))
    assert(plan.contains("partial_count"),
      s"cell counting must map-side combine:\n${plan.take(3000)}")
    // after the first aggregate everything runs on the cells frame: the
    // documents scan must appear exactly once
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"marginals/total must derive from cells, not re-scans ($scans):\n${plan.take(2000)}")
  }

  test("seasonality and activeActors: partial-aggregated rollups, no join, no window") {
    Seq("ns_seasonality", "ns_active_users").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(plan.contains("partial_"), s"$q must map-side combine:\n${plan.take(3000)}")
      assert(!plan.contains("Join") && !plan.contains("Window"),
        s"$q is a bare aggregate over the scan:\n${plan.take(2000)}")
    }
  }

  test("transitions: one key exchange for the lead pass; pair counts partial-aggregate") {
    val plan = planOf(SparkEntry.queries("ns_transitions")(spark, sf))
    val keyExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(keyExchanges == 1,
      s"the lead window owns the only event-sized exchange, found $keyExchanges:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"pair counting must combine map-side:\n${plan.take(3000)}")
  }

  test("incrementalEmbedCandidates: pair dedup exchange carries ids+cos, never vectors") {
    val plan = planOf(SparkEntry.queries("ns_incremental_embed")(spark, sf))
    assert(plan.contains("partial_max(cos_permille"),
      s"multi-table dedup must partial-aggregate the scalar:\n${plan.take(3000)}")
    assert(!plan.contains("partial_max(qm") && !plan.contains("first(qm") &&
      !plan.contains("first(vec_micro"),
      s"quantized vectors must not ride the dedup exchange:\n${plan.take(3000)}")
  }

  test("decontaminateEmbedding: benchmark broadcasts; vectors never enter the max exchange") {
    val plan = planOf(SparkEntry.queries("ns_decontaminate_embed")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"benchmark must ride broadcast, corpus must not shuffle for the scoring:\n${plan.take(2000)}")
    assert(plan.contains("partial_max"),
      s"per-corpus-id max must partial-aggregate before its exchange:\n${plan.take(3000)}")
    assert(!plan.contains("partial_max(cq") && !plan.contains("first(cq"),
      s"quantized vectors must reduce to scalars before any exchange:\n${plan.take(3000)}")
  }

  test("tCloseness: class/value partial aggregates; the global value table joins broadcast") {
    val plan = planOf(SparkEntry.queries("ns_tcloseness")(spark, sf))
    assert(plan.contains("partial_count"),
      s"class+value counting must map-side combine:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the value-cardinality global table must broadcast:\n${plan.take(3000)}")
  }

  test("collocations: pair counts partial-aggregate; global top-k is a heap, not a sort") {
    val plan = planOf(SparkEntry.queries("ns_collocations")(spark, sf))
    assert(plan.contains("partial_count"),
      s"pair instances must combine map-side before the exchange:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"topK must plan as per-partition heaps (TakeOrdered), no full sort:\n${plan.take(3000)}")
  }

  test("alignScores: group rank and group count share one hash exchange") {
    val plan = planOf(SparkEntry.queries("ns_align_scores")(spark, sf))
    val groupExchanges = "Exchange hashpartitioning\\(lang".r.findAllIn(plan).size
    assert(groupExchanges == 1,
      s"rank window and count window must reuse one group partitioning, found $groupExchanges:\n${plan.take(3000)}")
  }

  test("hardNegatives: query batch broadcasts; the corpus side never shuffles for scoring") {
    val plan = planOf(SparkEntry.queries("ns_hard_negatives")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bounded query batches must broadcast against the corpus scan:\n${plan.take(2000)}")
    assert(plan.contains("Exchange hashpartitioning(query_id"),
      s"only the (id, sim) rank exchange may shuffle:\n${plan.take(2000)}")
  }

  test("readability and codeSignals: zero-shuffle codegen'd scan projections") {
    Seq("ns_readability", "ns_code_signals").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n${plan.take(2000)}")
      // whole-stage codegen renders as the "*(n)" prefix in toString
      assert(plan.contains("*(1)"),
        s"$q must stay inside codegen:\n${plan.take(2000)}")
    }
  }

  test("giniByGroup: rank window and rollup share one group-keyed exchange") {
    val q = graft.ops.Profile.giniByGroup(
      EntrySupport.t(spark, sf, "documents"), "n_chars", Seq("source"))
    val plan = planOf(q)
    // the window hash-partitions on the group key; the groupBy that follows
    // reuses that partitioning — a second Exchange would re-shuffle the
    // corpus for nothing
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one group-key exchange:\n${plan.take(2500)}")
    assert(!plan.contains("Join"), s"no join anywhere:\n${plan.take(2000)}")
  }

  test("dialogAudit: pure per-row projection over an assembled dialog frame") {
    import spark.implicits._
    val dialogs = Seq((1L, Seq(("user", "hi"), ("assistant", "yo"))))
      .toDF("id", "raw")
      .select(col("id"), transform(col("raw"), x =>
        struct(x.getField("_1").as("role"), x.getField("_2").as("content")))
        .as("msgs"))
    val plan = planOf(graft.ops.Curation.dialogAudit(dialogs, "id", "msgs"))
    assert(!plan.contains("Exchange"),
      s"audit must not shuffle — it is a scan-stage projection:\n${plan.take(2000)}")
  }

  test("selectByTokenBudget: one slim group-key window exchange, no payload columns") {
    val q = graft.ops.Curation.selectByTokenBudget(
      EntrySupport.t(spark, sf, "documents")
        .select(col("doc_id"), col("source"), col("n_chars").as("score"),
          col("n_chars").as("toks")),
      Seq("source"), "doc_id", "score", "toks", tokenBudget = 1000L)
    val plan = planOf(q)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"exactly one window exchange expected:\n${plan.take(2500)}")
    assert(!plan.contains("text"), s"document payload must stay out of the plan:\n${plan.take(2500)}")
  }

  test("acf: the bucket-count aggregate materializes once across all lags") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf(graft.ops.Temporal.acf(
        EntrySupport.t(spark, sf, "events"), "ts", 3600L, Seq(1, 2, 24)))
      assert(plan.contains("ReusedExchange"),
        s"dense-series subplans must reuse the count exchange:\n${plan.take(3000)}")
      // exactly two narrow scans regardless of lag count: the min/max
      // range path prunes to (ts)->bucket only while the join side keeps
      // (bucket, x), so their canonicalized scans differ — but adding
      // lags must NOT add scans (that reuse is what the gate protects)
      val scans = "FileScan parquet".r.findAllIn(plan).length
      assert(scans == 2, s"lag count must not multiply scans, saw $scans:\n${plan.take(3000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("cohenKappa: the confusion-cell aggregate materializes once (ReuseExchange)") {
    // AQE reuses stages at runtime but hides it from the initial plan
    // string — assert the static ReuseExchange rule with AQE off
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = EntrySupport.t(spark, sf, "events")
        .select(col("event_type").as("ra"), col("event_type").as("rb"))
      val plan = planOf(graft.ops.Profile.cohenKappa(e, "ra", "rb"))
      // three consumers (marginals ×2, totals) re-derive from the identical
      // cells subplan — Spark must collapse them to one physical shuffle;
      // without reuse the corpus scans three times
      assert(plan.contains("ReusedExchange"),
        s"cells exchange must be reused, not recomputed:\n${plan.take(3000)}")
      val scans = "FileScan parquet".r.findAllIn(plan).length
      assert(scans == 1, s"events must scan exactly once, saw $scans:\n${plan.take(3000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("confusionReport: cells exchange shared by gold and pred rollups") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = EntrySupport.t(spark, sf, "events")
        .select(col("event_type").as("g"), col("event_type").as("p"))
      val plan = planOf(graft.ops.Profile.confusionReport(e, "g", "p"))
      assert(plan.contains("ReusedExchange"),
        s"cells exchange must be reused:\n${plan.take(3000)}")
      val scans = "FileScan parquet".r.findAllIn(plan).length
      assert(scans == 1, s"events must scan exactly once, saw $scans:\n${plan.take(3000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("sentences and corruption ops: zero-shuffle scan projections") {
    Seq("ns_sentences", "ns_word_dropout", "ns_span_corrupt").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n${plan.take(2000)}")
    }
  }

  test("packDialog: fold + scalarize stays shuffle-free over an assembled frame") {
    import spark.implicits._
    val dialogs = Seq((1L, Seq(("user", "a b"), ("assistant", "c"))))
      .toDF("id", "raw")
      .select(col("id"), transform(col("raw"), x =>
        struct(x.getField("_1").as("role"), x.getField("_2").as("content")))
        .as("msgs"))
    val plan = planOf(graft.ops.Curation.packDialog(dialogs, "id", "msgs", 5L))
    assert(!plan.contains("Exchange"),
      s"pack must not shuffle — the assembly exchange is the caller's:\n${plan.take(2000)}")
  }

  test("benfordAudit: per-column digit counts partial-aggregate; share window over digit rows only") {
    val plan = planOf(SparkEntry.queries("ns_benford")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(3000)}")
    // the share window keys on column — its input is the <=9-rows-per-column
    // digit frame, never the order rows
    assert(plan.contains("Window"), s"per-column share window expected:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), s"no join anywhere in the audit:\n${plan.take(2000)}")
    // all audited columns ride ONE scan (row-explode), not one scan each
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"audit must scan the table once, saw $scans:\n${plan.take(2500)}")
  }

  test("preferencePairsFromScores: one partial-agg groupBy — no window sort, no join") {
    val plan = planOf(SparkEntry.queries("ns_preference_pairs")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"pair mining must stay a single aggregate (per-prompt state is two structs):\n${plan.take(2000)}")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"one scan, saw $scans")
  }

  test("langSegments: zero-shuffle scan projection (segment langId is array HOFs)") {
    val plan = planOf(SparkEntry.queries("ns_lang_segments")(spark, sf))
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"mixture audit must be a bare projection — no shuffle, no explode:\n${plan.take(2000)}")
  }

  test("krippendorffAlpha: keyed partial aggregates only — no window, broadcast one-row tails") {
    val plan = planOf(SparkEntry.queries("ns_kripp_alpha")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    assert(!plan.contains("Window"),
      s"coincidence identities need no window:\n${plan.take(2000)}")
    // the only joins are the qualifying-unit semi join and the one-row
    // crossJoin broadcast of the label tail — never a sort-merge
    assert(!plan.contains("SortMergeJoin"),
      s"unit/label frames must hash- or broadcast-join:\n${plan.take(2500)}")
  }

  test("packEfficiency: one partial-agg rollup over the packed frame") {
    import SparkTestBase.spark.implicits._
    val packed = Seq((0L, 0L, 5L), (0L, 1L, 7L)).toDF("pack_group", "bin_idx", "n_tokens")
    val plan = planOf(graft.ops.Curation.packEfficiency(
      packed, Seq("pack_group", "bin_idx"), "n_tokens", budget = 10L))
    assert(plan.contains("partial_"), s"map-side combine expected:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"), s"one groupBy only:\n$plan")
  }

  test("fleissKappa: keyed partial aggregates only — no window, one-row broadcast tail") {
    val plan = planOf(SparkEntry.queries("ns_fleiss_kappa")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    assert(!plan.contains("Window"),
      s"the kappa identities need no window:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the one-row label tail must broadcast:\n${plan.take(2500)}")
  }

  test("preferenceConsistency: every exchange is prompt-keyed, cycle join never sort-merges the corpus") {
    val plan = planOf(SparkEntry.queries("ns_pref_consistency")(spark, sf))
    // the pair reduction must map-side combine — judgments shrink to one
    // row per (prompt, pair) before any join sees them
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    assert(!plan.contains("Window"),
      s"tournament audit needs no window:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"cycle enumeration must stay equi-keyed:\n${plan.take(2500)}")
  }

  test("copelandScores: pair reduction combines map-side; the only window is prompt-partitioned") {
    val plan = planOf(SparkEntry.queries("ns_copeland")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    // rank must be partitioned by prompt — a global window would hot-spot
    assert(plan.contains("windowspecdefinition(p#"),
      s"window must be prompt-partitioned:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"),
      s"no cross products in the tournament rollup:\n${plan.take(2500)}")
  }

  test("repeatedEpochValue: row-local fold over the plan frame — no extra exchange past the stats agg") {
    val plan = planOf(SparkEntry.queries("ns_epoch_value")(spark, sf))
    assert(!plan.contains("Window"),
      s"the decay fold is an array HOF, not a window:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"value audit adds no join beyond the plan's own broadcast:\n${plan.take(2500)}")
  }

  test("splitLeakageAudit: one partial-aggregated groupBy keyed by the audit key") {
    val plan = planOf(SparkEntry.queries("ns_split_leakage")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"leakage audit is one keyed aggregate:\n${plan.take(2000)}")
  }

  test("instructionTemplates: template groupBy combines map-side, total joins as one-row broadcast") {
    val plan = planOf(SparkEntry.queries("ns_instr_templates")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      s"corpus total must broadcast back:\n${plan.take(2500)}")
  }

  test("labelNoiseByNeighbors: queries broadcast into the neighbor scan; votes combine map-side") {
    val plan = planOf(SparkEntry.queries("ns_label_noise")(spark, sf))
    assert(plan.contains("partial_"), s"vote counts must map-side combine:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastExchange"),
      s"the query side must broadcast (bruteForceTopK contract):\n${plan.take(2500)}")
  }

  test("calibrationAudit: one partial-aggregated bucket rollup, no join, no window") {
    val plan = planOf(SparkEntry.queries("ns_calibration")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"reliability buckets are one keyed aggregate:\n${plan.take(2000)}")
  }

  test("bootstrapMeans: constant fan-out partial-aggregates onto B rows — no window, no join") {
    val plan = planOf(SparkEntry.queries("ns_bootstrap")(spark, sf))
    assert(plan.contains("partial_"), s"replicate sums must map-side combine:\n${plan.take(2000)}")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"the resample is explode + one aggregate:\n${plan.take(2000)}")
  }

  test("rankAgreement: one equi-join of the rank tables, depth cells in one aggregate") {
    val plan = planOf(SparkEntry.queries("ns_rank_agreement")(spark, sf))
    assert(plan.contains("partial_"), s"depth cells must map-side combine:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"rank tables join on (query, item):\n${plan.take(2500)}")
  }

  test("trimmedStats: rank window is group-partitioned; one rollup, no join") {
    val plan = planOf(SparkEntry.queries("ns_trimmed_stats")(spark, sf))
    assert(plan.contains("windowspecdefinition(lang#"),
      s"trim ranks must partition by group:\n${plan.take(2500)}")
    assert(!plan.contains("Join"),
      s"trimmed stats are window + rollup only:\n${plan.take(2000)}")
  }

  test("vocabCoverage: bucketed two-level rank — no single-partition sort of the token frame") {
    val df = SparkEntry.queries("ns_vocab_coverage")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"offsets must broadcast; coverage cells need no wide join:\n${plan.take(2500)}")
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    // the vocabulary frame range-buckets on the rank key and ranks WITHIN
    // buckets; the only unpartitioned window is the <= buckets-row offset
    // prefix sum — a web-scale vocabulary never sorts through one task
    val wins = root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    // (the __off alias lives in the downstream Project; at the physical
    // window the prefix sum is recognizable by its __bk-ordered spec
    // over the bucket-count frame)
    assert(unpart.nonEmpty && unpart.forall(w =>
        w.orderSpec.mkString.contains("__bk") &&
          w.windowExpression.mkString.contains("sum(__n")),
      s"only the bucket-offset prefix sum may run unpartitioned:\n${unpart.mkString("\n").take(2000)}")
    assert(wins.exists(w => w.partitionSpec.nonEmpty &&
        w.windowExpression.mkString.contains("row_number")),
      s"the vocab rank must partition by bucket:\n${wins.mkString("\n").take(2000)}")
    assert(root.toString.contains("rangepartitioning"),
      s"token frame must range-bucket on the rank key:\n${root.toString.take(2500)}")
  }

  test("textTileBlocks: every window is document-partitioned, no join anywhere") {
    val plan = planOf(SparkEntry.queries("ns_texttile")(spark, sf))
    assert(plan.contains("windowspecdefinition(doc_id#"),
      s"lag/cumsum must partition by document:\n${plan.take(2500)}")
    assert(!plan.contains("Join"),
      s"block segmentation is explode + windows only:\n${plan.take(2000)}")
  }

  test("docStitchCandidates: gram-keyed equi-join only, bucket counts combine map-side") {
    val plan = planOf(SparkEntry.queries("ns_doc_stitch")(spark, sf))
    assert(plan.contains("partial_"), s"bucket-cap counts must map-side combine:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"stitch join must stay equi-keyed on the gram:\n${plan.take(2500)}")
    assert(!plan.contains("Window"),
      s"no window anywhere in the stitch pipeline:\n${plan.take(2000)}")
  }

  test("payload expressions summarize in plan strings - model tables never inline") {
    // centroid/codebook/merge tables are constructor payloads, not
    // Literal children: default TreeNode rendering would inline C×dim
    // doubles into every plan string occurrence (join keys put the
    // expression in Project/Filter/Exchange/Join nodes simultaneously) —
    // at production model sizes one explain/AQE log line became a
    // multi-GB driver allocation (caught by the 100× ScaleProbe run)
    val cents = Array.fill(512)(Array.fill(64)(0.5))
    val df = EntrySupport.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      .select(graft.functions.text.nearestCentroid(col("vec"), cents).as("cell"))
      .filter(col("cell") >= 0)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("<512x64 centroids>"), s.take(1500))
    assert(s.length < 20000,
      s"plan string must stay payload-free: ${s.length} chars\n${s.take(1500)}")
  }

  test("temperatureMixture: row-local weight projection, total joins as one-row broadcast") {
    val plan = planOf(SparkEntry.queries("ns_temperature_mix")(spark, sf))
    assert(!plan.contains("Window"),
      s"no window anywhere - weights are per-row arithmetic:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the one-row total must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"nothing may shuffle-join the stratum frame:\n${plan.take(2500)}")
  }

  test("streamingCalibration (batch mode): one partial-aggregated windowed groupBy, no join") {
    val plan = planOf(SparkEntry.queries("ns_stream_calibration")(spark, sf))
    assert(plan.contains("partial_"),
      s"bucket counters must combine map-side:\n${plan.take(2000)}")
    assert(!plan.contains("Join"),
      s"the monitor is a single aggregate - no join:\n${plan.take(2000)}")
    assert(!plan.contains("WindowExec"),
      s"tumbling windows are group keys, not window functions:\n${plan.take(2000)}")
  }

  test("zipfProfile: term counts combine map-side; windows run on the bucket frame only") {
    val plan = planOf(SparkEntry.queries("ns_zipf")(spark, sf))
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no join in the bucket rollup:\n${plan.take(2500)}")
  }

  test("mix-value capstone: composed stages add no cartesian and no global data-sized window") {
    val plan = planOf(SparkEntry.queries("ns_mix_value")(spark, sf))
    assert(plan.contains("partial_"), s"stats aggregates must map-side combine:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"one-row level/total joins must plan as broadcast:\n${plan.take(2500)}")
    assert(!plan.contains("Window"),
      s"quality -> plan -> value composes without any window:\n${plan.take(2000)}")
  }

  test("waterfillPlan: strata-frame windows only, level rejoins as one-row broadcast") {
    val plan = planOf(SparkEntry.queries("ns_waterfill")(spark, sf))
    // the corpus-sized work is ONE partial-aggregated groupBy(lang);
    // everything after runs on the strata-sized frame
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastExchange") || !plan.contains("SortMergeJoin"),
      s"the level tail must broadcast back, never SMJ:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"),
      s"the one-row level crossJoin must plan as broadcast:\n${plan.take(2500)}")
  }
}
