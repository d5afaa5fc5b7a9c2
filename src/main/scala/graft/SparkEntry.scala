package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry demonstrates one operator family from SURVEY.md §2 running as
  * a Spark-native pipeline over the shared test tables; `oracleSql` holds the
  * DuckDB-equivalent SQL for the hash-match correctness gate.
  *
  * The geist-parity queries construct a JSON event stream from the `events`
  * table (to_json over native columns) and push it through the *compiled
  * StreamSpec pipeline* (graft.compile.SpecCompiler) — i.e. they exercise
  * the real operator implementations, not ad-hoc SQL.
  */
object SparkEntry {

  // ----------------------------------------------------------- queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("session_routing")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EntriesParity.queries ++ EntriesAnalytics.queries ++ EntriesDedup.queries ++
      EntriesGraph.queries ++ EntriesCuration.queries ++ EntriesProfile.queries

  def oracleSql: Map[String, String] = {
    val base =
      EntriesParity.oracleSql ++ EntriesAnalytics.oracleSql ++
        EntriesDedup.oracleSql ++ EntriesGraph.oracleSql ++
        EntriesCuration.oracleSql ++ EntriesProfile.oracleSql
    // the funnel oracle is the disposition oracle wrapped in the audit
    // rollup — derived, so the two can never drift apart
    base +
      ("ns_pipeline_funnel" ->
        s"""WITH disp AS (
           |${base("ns_pipeline")}
           |)
           |SELECT coalesce(dropped_at, 'kept') AS stage, split, count(*)::BIGINT AS n
           |FROM disp GROUP BY 1, 2""".stripMargin) +
      // the repetition-value audit derives from the plan oracle; the d=500
      // staged fold collapses to the exact-halving identity 1000 div 2^e
      // (p·500 div 1000 = p div 2, and nested integer halvings equal
      // division by 2^e), so the SQL needs no recursive state
      ("ns_epoch_value" ->
        s"""WITH plan AS (
           |${base("ns_epoch_plan")}
           |),
           |x AS (SELECT stratum, tokens, epochs_milli,
           |        epochs_milli % 1000 AS frac,
           |        coalesce(list_sum(list_transform(range(epochs_milli // 1000),
           |          i -> 1000 // (1 << i))), 0) AS s,
           |        1000 // (1 << (epochs_milli // 1000)) AS p
           |      FROM plan),
           |y AS (SELECT stratum, tokens, epochs_milli,
           |        CAST((tokens * (s + (frac * p) // 1000)) // 1000 AS BIGINT) AS effective_tokens,
           |        CAST((tokens * epochs_milli) // 1000 AS BIGINT) AS raw_tokens
           |      FROM x)
           |SELECT stratum, tokens, epochs_milli, effective_tokens, raw_tokens,
           |       CASE WHEN raw_tokens > 0 THEN (effective_tokens * 1000) // raw_tokens
           |            ELSE NULL END AS value_permille
           |FROM y""".stripMargin) +
      // packing QA derives from the pack layout's own recursive replay —
      // the efficiency gate and the layout gate cannot drift apart
      ("ns_pack_efficiency" ->
        s"""WITH packed AS (
           |${base("ns_pack")}
           |)
           |SELECT pack_group, bin_idx, CAST(count(*) AS BIGINT) AS n_items,
           |       CAST(sum(n_tokens) AS BIGINT) AS used_tokens,
           |       CAST(128 - sum(n_tokens) AS BIGINT) AS waste_tokens,
           |       CAST((sum(n_tokens) * 1000) // 128 AS BIGINT) AS fill_permille
           |FROM packed GROUP BY 1, 2""".stripMargin) +
      // corpus BLEU derives from the per-pair oracle: pool the
      // components, then the SAME shared isqrt chain takes the 4th root
      // of the pooled precisions — the micro-average the operator
      // documents, with no way to drift from the per-pair gate; the pool
      // fragment is shared with the self-BLEU rollup below
      ("ns_corpus_bleu" -> EntrySupport.corpusBleuPoolSql(base("ns_bleu"))) +
      // corpus self-BLEU — the diversity number Zhu-2018 quotes — is the
      // SAME pool over the ring-pair gate's SQL
      ("ns_corpus_self_bleu" ->
        EntrySupport.corpusBleuPoolSql(base("ns_self_bleu"))) +
      // the corpus rollup accepts multi-reference components unchanged
      // (same schema) — the SAME pool over the multi-ref gate's SQL
      ("ns_corpus_bleu_multiref" ->
        EntrySupport.corpusBleuPoolSql(base("ns_bleu_multiref"))) +
      // corpus ROUGE-L derives from the per-pair oracle the same way
      ("ns_corpus_rouge_l" ->
        s"""WITH rl AS (
           |${base("ns_rouge_l")}
           |),
           |s AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(coalesce(sum(cand_len), 0) AS BIGINT) AS cand_tokens,
           |    CAST(coalesce(sum(ref_len), 0) AS BIGINT) AS ref_tokens,
           |    CAST(coalesce(sum(lcs_len), 0) AS BIGINT) AS lcs_total
           |  FROM rl),
           |pr2 AS (SELECT *,
           |    CASE WHEN cand_tokens > 0 THEN lcs_total * 1000 // cand_tokens END AS precision_permille,
           |    CASE WHEN ref_tokens > 0 THEN lcs_total * 1000 // ref_tokens END AS recall_permille
           |  FROM s)
           |SELECT *, ${EntrySupport.fBetaSql(1)}
           |FROM pr2""".stripMargin) +
      // corpus TER derives from the per-pair oracle the same way
      ("ns_corpus_ter" ->
        s"""WITH t AS (
           |${base("ns_ter")}
           |),
           |s AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(coalesce(sum(cand_len), 0) AS BIGINT) AS cand_tokens,
           |    CAST(coalesce(sum(ref_len), 0) AS BIGINT) AS ref_tokens,
           |    CAST(coalesce(sum(edit_ops), 0) AS BIGINT) AS edit_ops
           |  FROM t)
           |SELECT *, CASE WHEN ref_tokens > 0
           |    THEN edit_ops * 1000 // ref_tokens END AS ter_permille
           |FROM s""".stripMargin) +
      // corpus chrF derives from the per-pair oracle: pool the
      // components per n, then the SAME permille/F arithmetic — the
      // number sacrebleu reports, with no way to drift from the pair gate
      ("ns_corpus_chrf" ->
        s"""WITH c AS (
           |${base("ns_chrf")}
           |),
           |${EntrySupport.pooledPrfByNSql}
           |SELECT *,
           |  ${EntrySupport.fBetaSql(1)},
           |  ${EntrySupport.fBetaSql(4)}
           |FROM pooled""".stripMargin) +
      // corpus ROUGE-N derives from the per-pair oracle the same way
      ("ns_corpus_rouge_n" ->
        s"""WITH c AS (
           |${base("ns_rouge")}
           |),
           |${EntrySupport.pooledPrfByNSql}
           |SELECT *,
           |  ${EntrySupport.fBetaSql(1)}
           |FROM pooled""".stripMargin) +
      // the benchmark-level pass@k rollup derives from the per-problem
      // oracle: mean over problems per k on the micro grid, plus the
      // pass^k all-draws-pass dual via the same compounded-floor fold
      ("ns_passk_rollup" ->
        s"""WITH p AS (
           |${base("ns_pass_at_k")}
           |),
           |w AS (SELECT *, CASE WHEN k <= n_samples THEN
           |    list_reduce(list_prepend(1000000::BIGINT, range(0, k)),
           |      (acc, i) -> (acc * (n_passed - i)) // (n_samples - i))
           |  END AS allm FROM p)
           |SELECT k, CAST(count(pass_at_k_micro) AS BIGINT) AS n_problems,
           |  CASE WHEN count(pass_at_k_micro) > 0
           |    THEN CAST(sum(pass_at_k_micro) AS BIGINT) // count(pass_at_k_micro)
           |  END AS mean_pass_at_k_micro,
           |  CASE WHEN count(pass_at_k_micro) > 0
           |    THEN CAST(sum(allm) AS BIGINT) // count(pass_at_k_micro)
           |  END AS mean_pass_all_k_micro
           |FROM w GROUP BY k""".stripMargin) +
      // the paired bootstrap derives from ns_bleu's components + the
      // frozen Poisson cut table (bootstrapMeans' exact convention) +
      // the corrected floor-isqrt chain, one per system. The whole
      // per-replicate chain is the SHARED bleuBootstrapRepsSql fragment
      // (ending in reps) — this verdict and the CI gate below both
      // reduce that one fragment, mirroring the Scala refactor where
      // pairedBootstrapBleu is re-derived from the replicates frame
      ("ns_paired_bootstrap" ->
        s"""${EntrySupport.bleuBootstrapRepsSql(base("ns_bleu"))},
           |f AS (SELECT CAST(count(*) AS BIGINT) AS n_replicates,
           |    CAST(sum(CASE WHEN ageo IS NOT NULL AND bgeo IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS defined,
           |    CAST(sum(CASE WHEN ageo > bgeo THEN 1 ELSE 0 END) AS BIGINT) AS a_wins,
           |    CAST(sum(CASE WHEN bgeo > ageo THEN 1 ELSE 0 END) AS BIGINT) AS b_wins,
           |    CAST(sum(CASE WHEN ageo = bgeo THEN 1 ELSE 0 END) AS BIGINT) AS ties,
           |    CAST(sum(CASE WHEN ageo IS NULL OR bgeo IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS undefined
           |  FROM reps)
           |SELECT *, CASE WHEN defined > 0 THEN a_wins * 1000 // defined END AS a_win_permille
           |FROM f""".stripMargin) +
      // the 95% delta CI over the SAME per-replicate fragment (Koehn
      // 2004's order-statistics interval — the number sacrebleu prints
      // next to the p-value): sort the defined deltas, drop 25 permille
      // each side, read the bounds
      ("ns_paired_bootstrap_ci" ->
        s"""${EntrySupport.bleuBootstrapRepsSql(base("ns_bleu"))},
           |${EntrySupport.bootstrapCiTailSql("delta")}""".stripMargin) +
      // the metric-agnostic paired bootstrap derives from ns_rouge_l's
      // SQL; the verdict is division-free (paired weights share Σw, so
      // the weighted-mean compare is Σw·ma vs Σw·mb — exact HUGEINTs);
      // the per-replicate chain is the shared metricBootstrapRepsSql
      // fragment this verdict and its CI gate both reduce
      ("ns_paired_bootstrap_rouge" ->
        s"""${EntrySupport.metricBootstrapRepsSql(base("ns_rouge_l"))},
           |f AS (SELECT CAST(coalesce(max(n_pairs), 0) AS BIGINT) AS n_pairs_used,
           |    CAST(count(*) AS BIGINT) AS n_replicates,
           |    CAST(sum(CASE WHEN w_sum > 0 THEN 1 ELSE 0 END) AS BIGINT) AS defined,
           |    CAST(sum(CASE WHEN w_sum > 0 AND sa > sb THEN 1 ELSE 0 END) AS BIGINT) AS a_wins,
           |    CAST(sum(CASE WHEN w_sum > 0 AND sb > sa THEN 1 ELSE 0 END) AS BIGINT) AS b_wins,
           |    CAST(sum(CASE WHEN w_sum > 0 AND sa = sb THEN 1 ELSE 0 END) AS BIGINT) AS ties,
           |    CAST(sum(CASE WHEN w_sum = 0 THEN 1 ELSE 0 END) AS BIGINT) AS undefined
           |  FROM reps)
           |SELECT *, CASE WHEN defined > 0 THEN a_wins * 1000 // defined END AS a_win_permille
           |FROM f""".stripMargin) +
      // the ROUGE-L delta CI on the milli grid, over the same fragment
      ("ns_paired_bootstrap_rouge_ci" ->
        s"""${EntrySupport.metricBootstrapRepsSql(base("ns_rouge_l"))},
           |${EntrySupport.bootstrapCiTailSql("delta_milli")}""".stripMargin) +
      // approximate randomization derives from ns_rouge_l's SQL + the
      // portable-hash flip bits (seed 'graft-ar'): signed sum per
      // replicate, add-one p estimator — all integer
      ("ns_approx_rand" ->
        s"""WITH c AS (
           |${base("ns_rouge_l")}
           |),
           |a AS (SELECT pair_id, f1_permille AS ma FROM c WHERE pair_id % 2 = 0),
           |b AS (SELECT pair_id - 1 AS pair_id, f1_permille AS mb FROM c WHERE pair_id % 2 = 1),
           |j AS (SELECT pair_id, ma - mb AS dd FROM a JOIN b USING (pair_id)
           |      WHERE ma IS NOT NULL AND mb IS NOT NULL),
           |r AS (SELECT j.*, CAST(unnest(range(1, 33)) AS BIGINT) AS rep FROM j),
           |wu AS (SELECT *, ('0x' || substr(md5('graft-ar|' || CAST(pair_id AS VARCHAR) ||
           |         '|' || CAST(rep AS VARCHAR)), 1, 8))::UBIGINT & 2147483647 AS u FROM r),
           |fl AS (SELECT *, u % 2 AS flip FROM wu),
           |g AS (SELECT rep,
           |    CAST(sum(CASE WHEN flip = 1 THEN -dd ELSE dd END) AS BIGINT) AS s,
           |    CAST(sum(dd) AS BIGINT) AS obs,
           |    CAST(count(*) AS BIGINT) AS pairs
           |  FROM fl GROUP BY rep),
           |f AS (SELECT CAST(coalesce(max(pairs), 0) AS BIGINT) AS n_pairs_used,
           |    CAST(count(*) AS BIGINT) AS n_replicates,
           |    CAST(coalesce(max(obs), 0) AS BIGINT) AS observed_delta,
           |    CAST(sum(CASE WHEN abs(s) >= abs(obs) THEN 1 ELSE 0 END) AS BIGINT) AS ge_count
           |  FROM g)
           |SELECT *, (ge_count + 1) * 1000 // (n_replicates + 1) AS p_permille
           |FROM f""".stripMargin) +
      // the G-Pass@k benchmark mean derives from the per-problem oracle
      ("ns_gpass_rollup" ->
        s"""WITH g AS (
           |${base("ns_gpass")}
           |)
           |SELECT k, tau_num, tau_den,
           |  CAST(count(g_pass_micro) AS BIGINT) AS n_problems,
           |  CASE WHEN count(g_pass_micro) > 0
           |    THEN CAST(sum(g_pass_micro) AS BIGINT) // count(g_pass_micro)
           |  END AS mean_g_pass_micro
           |FROM g GROUP BY 1, 2, 3""".stripMargin) +
      // the agreement rollup derives from the per-problem majority oracle
      ("ns_selfcons_rollup" ->
        s"""WITH sc AS (
           |${base("ns_self_consistency")}
           |)
           |SELECT CAST(count(*) AS BIGINT) AS n_problems,
           |  CASE WHEN count(*) > 0
           |    THEN CAST(sum(majority_permille) AS BIGINT) // count(*)
           |  END AS mean_majority_permille,
           |  CAST(sum(CASE WHEN majority_permille >= 600 THEN 1 ELSE 0 END) AS BIGINT) AS n_quorum,
           |  CASE WHEN count(*) > 0
           |    THEN CAST(sum(CASE WHEN majority_permille >= 600 THEN 1 ELSE 0 END) AS BIGINT) * 1000 // count(*)
           |  END AS quorum_share_permille
           |FROM sc""".stripMargin) +
      // corpus novelty derives from the per-doc oracle: pooled novel
      // instances over pooled instances per n
      ("ns_corpus_novelty" ->
        s"""WITH nv AS (
           |${base("ns_ngram_novelty")}
           |)
           |SELECT n, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(coalesce(sum(total_grams), 0) AS BIGINT) AS total_grams,
           |  CAST(coalesce(sum(novel_grams), 0) AS BIGINT) AS novel_grams,
           |  (CAST(coalesce(sum(novel_grams), 0) AS BIGINT) * 1000)
           |    // CAST(coalesce(sum(total_grams), 0) AS BIGINT) AS novelty_permille
           |FROM nv GROUP BY n""".stripMargin)
  }
}
