package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Curation

/** Semantics tests for the corpus-curation operators (PII, decontamination,
  * quality filtering, line dedup, stratified sampling). The contract
  * queries gate these against DuckDB; the tests here pin the behavioral
  * corners the oracle data doesn't reach.
  */
class CurationSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  // ------------------------------------------------------------------ PII

  test("pii redaction replaces every category and leaves clean text alone") {
    val df = Seq(
      (1L, "reach me at jo.smith+x@corp.example.org or +1-555-867-5309 thanks"),
      (2L, "server 192.168.0.17 charged card 4111111111111111 twice"),
      (3L, "no pii here just words")
    ).toDF("id", "text")
    val out = df.select(col("id"), Curation.redactPii(col("text")).as("r"))
      .orderBy("id").collect().map(_.getString(1))
    assert(out(0) == "reach me at <EMAIL> or <PHONE> thanks")
    assert(out(1) == "server <IP> charged card <CC> twice")
    assert(out(2) == "no pii here just words")
  }

  test("pii stats count each category independently") {
    val df = Seq((1L, "a@b.co and c@d.org ip 10.0.0.1 card 12345678901234")).toDF("id", "text")
    val r = df.select(Curation.piiStats(col("text")).as("p")).select("p.*").collect()(0)
    assert(r.getLong(0) == 2, "emails")
    assert(r.getLong(1) == 0, "phones")
    assert(r.getLong(2) == 1, "ccs")
    assert(r.getLong(3) == 1, "ips")
  }

  test("pii redaction order prevents partial matches inside earlier redactions") {
    // the phone's digit groups must not be re-matched as an IP or CC
    val df = Seq((1L, "call +1-555-123-4567 now")).toDF("id", "text")
    val r = df.select(Curation.redactPii(col("text"))).collect()(0).getString(0)
    assert(r == "call <PHONE> now")
  }

  // --------------------------------------------------- decontamination

  test("decontaminate flags docs sharing n-grams with the benchmark only") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then the quick brown fox appears here"), // shares 4-grams
      (2L, "completely different content with no overlap at all"),
      (3L, "quick brown fox jumps somewhere")                     // shares 4-grams
    ).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench, "text", "doc_id", n = 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getBoolean(3)).toSeq == Seq(true, false, true))
    // doc 1 shares exactly "the quick brown fox" (1 gram of 4 tokens)
    assert(out(0).getLong(2) == 1)
    assert(out(1).getLong(2) == 0)
  }

  test("decontaminateNearDup flags paraphrased benchmark leaks exact overlap misses") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, base),                          // verbatim leak
      (2L, base.replace("tok30", "tokX")), // near-dup leak (one token edited)
      (3L, (1 to 60).map(i => s"zzz$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val out = Curation.decontaminateNearDup(corpus, bench, "text", "doc_id",
        minJaccard = 0.5)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getBoolean(2))).toSeq ==
      Seq((1L, true), (2L, true), (3L, false)))
    // input columns survive untouched ahead of the flag
    assert(out.head.getString(1) == base)
  }

  test("decontaminate short docs fall back to whole-text grams") {
    val bench = Seq((100L, "tiny doc")).toDF("doc_id", "text")
    val corpus = Seq((1L, "tiny doc"), (2L, "other short")).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench, "text", "doc_id", n = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getBoolean(3) && !out(1).getBoolean(3))
  }

  // --------------------------------------------------- line dedup

  test("line dedup keeps only the globally first occurrence of each line") {
    val docs = Seq(
      (1L, "shared line\nunique to one"),
      (2L, "shared line\nunique to two"),
      (3L, "shared line") // every line seen earlier -> doc dropped
    ).toDF("doc_id", "text")
    val out = Curation.lineDedup(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.length == 2, "doc 3 loses all lines and is dropped")
    assert(out(0).getLong(0) == 1L && out(0).getString(3) == "shared line\nunique to one")
    assert(out(1).getLong(0) == 2L && out(1).getString(3) == "unique to two")
    assert(out(0).getLong(1) == 2 && out(0).getLong(2) == 2) // n_lines, n_kept
    assert(out(1).getLong(1) == 2 && out(1).getLong(2) == 1)
  }

  test("line dedup preserves within-doc order of surviving lines") {
    val docs = Seq(
      (1L, "dup"),
      (2L, "alpha\ndup\nbeta\ngamma")
    ).toDF("doc_id", "text")
    val out = Curation.lineDedup(docs, "text", "doc_id")
      .filter(col("doc_id") === 2).collect()(0)
    assert(out.getString(3) == "alpha\nbeta\ngamma")
  }

  test("line dedup keeps the first occurrence within a single doc too") {
    val docs = Seq((1L, "same\nsame\nsame")).toDF("doc_id", "text")
    val out = Curation.lineDedup(docs, "text", "doc_id").collect()(0)
    assert(out.getLong(2) == 1 && out.getString(3) == "same")
  }

  // --------------------------------------------------- quality filter

  test("curation stats compute word/line signals in one pass") {
    val df = Seq((1L, "aa bb aa bb cc")).toDF("id", "text")
    val r = df.select(Curation.curationStats(col("text"), lineLen = 2).as("q"))
      .select("q.*").collect()(0)
    assert(r.getLong(0) == 5, "n_words")
    assert(r.getDouble(1) == 2.0, "mean_word_len")
    assert(r.getDouble(3) == 1.0, "frac_alpha")
    // lines: ["aa bb", "aa bb", "cc"] -> 1 dup of 3
    assert(r.getLong(4) == 3, "n_lines")
    assert(math.abs(r.getDouble(5) - 1.0 / 3) < 1e-15, "dup_line_frac")
    assert(math.abs(r.getDouble(6) - 5.0 / 12) < 1e-15, "dup_char_frac")
  }

  test("curation stats repetition signals: duplicate n-gram char fractions") {
    val df = Seq((1L, "aa bb aa bb cc"), (2L, "xx yy zz"), (3L, "w")).toDF("id", "text")
    val rs = df.select(col("id"), Curation.curationStats(col("text"), lineLen = 2).as("q"))
      .orderBy("id").select("q.dup_2gram_frac", "q.dup_3gram_frac").collect()
    // 2-grams of doc 1: [aa bb, bb aa, aa bb, bb cc] -> one dup of 4, all len 5
    assert(math.abs(rs(0).getDouble(0) - 5.0 / 20) < 1e-15)
    // 3-grams: [aa bb aa, bb aa bb, aa bb cc] -> all distinct
    assert(rs(0).getDouble(1) == 0.0)
    assert(rs(1).getDouble(0) == 0.0 && rs(1).getDouble(1) == 0.0)
    assert(rs(2).getDouble(0) == 0.0, "single-token doc has no 2-grams")
  }

  test("mixRates solves per-stratum rates that realize the target mix") {
    val df = Seq(
      ("web", 8000L), ("web", 2000L),   // 10000 tokens available
      ("code", 2000L), ("code", 500L),  // 2500
      ("books", 500L)                   // 500
    ).toDF("src", "n_tok")
    // target 50/30/20: books binds (500/0.2 = 2500 budget) ->
    // web: 0.5*2500/10000 = 12.5% ; code: 0.3*2500/2500 = 30% ; books: 100%
    val rates = Curation.mixRates(df, "src", "n_tok",
      Map("web" -> 0.5, "code" -> 0.3, "books" -> 0.2))
    assert(rates == Map("web" -> 125, "code" -> 300, "books" -> 1000))
    // explicit budget below feasibility scales down proportionally
    val capped = Curation.mixRates(df, "src", "n_tok",
      Map("web" -> 0.5, "code" -> 0.3, "books" -> 0.2), totalBudget = Some(1000.0))
    assert(capped == Map("web" -> 50, "code" -> 120, "books" -> 400))
    // a stratum with no supply gets rate 0, others rescale to ITS feasibility (0)
    val missing = Curation.mixRates(df, "src", "n_tok",
      Map("web" -> 0.5, "video" -> 0.5))
    assert(missing("video") == 0 && missing("web") == 0)
  }

  test("temperatureFractions: alpha=1 natural, alpha=0 uniform, tails up-sample in between") {
    val df = Seq(
      ("web", 8000L), ("web", 2000L), // 10000
      ("code", 2000L), ("code", 500L), // 2500
      ("books", 500L)) // 500
      .toDF("src", "n_tok")
    val natural = Curation.temperatureFractions(df, "src", "n_tok", alpha = 1.0)
    assert(math.abs(natural("web") - 10000.0 / 13000) < 1e-12)
    assert(math.abs(natural("books") - 500.0 / 13000) < 1e-12)
    val uniform = Curation.temperatureFractions(df, "src", "n_tok", alpha = 0.0)
    assert(uniform.values.forall(v => math.abs(v - 1.0 / 3) < 1e-12))
    val smoothed = Curation.temperatureFractions(df, "src", "n_tok", alpha = 0.5)
    assert(smoothed("books") > natural("books") && smoothed("books") < uniform("books"),
      "tail stratum must sit between natural and uniform")
    assert(smoothed("web") < natural("web") && smoothed("web") > uniform("web"),
      "head stratum must shrink toward uniform")
    // composes directly with mixRates (fractions are a valid target)
    val rates = Curation.mixRates(df, "src", "n_tok", smoothed)
    assert(rates.values.forall(r => r >= 0 && r <= 1000) && rates.values.max == 1000,
      "the binding stratum must be fully consumed")
  }

  test("curation stats degenerate text follows the SQL split convention") {
    // split('') = [''] in Spark/DuckDB — one empty token, zero chars; the
    // expression mirrors that exactly so the oracle never diverges
    val df = Seq((1L, ""), (2L, "   "), (3L, "x"), (4L, "a b\t")).toDF("id", "text")
    val rs = df.select(col("id"), Curation.curationStats(col("text"), lineLen = 2).as("q"))
      .orderBy("id").select("q.*").collect()
    assert(rs(0).getLong(0) == 1 && rs(0).getDouble(1) == 0.0 && rs(0).getLong(4) == 1)
    assert(rs(1).getLong(0) == 1, "whitespace-only trims to the same single empty token")
    assert(rs(2).getLong(0) == 1 && rs(2).getDouble(1) == 1.0)
    // trailing tab is NOT trimmed (trim strips ' ' only) and keeps its
    // trailing empty token, exactly like split(col, "\\s+") would
    assert(rs(3).getLong(0) == 3 && rs(3).getDouble(3) == 2.0 / 3, "a b\\t -> [a, b, '']")
  }

  test("line dedup exempts empty lines (paragraph structure survives)") {
    val docs = Seq(
      (1L, "para one\n\npara two"),
      (2L, "para one\n\nother text")
    ).toDF("doc_id", "text")
    val out = Curation.lineDedup(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getString(3) == "para one\n\npara two")
    assert(out(1).getString(3) == "\nother text", "dup content line dropped, blank kept")
  }

  test("quality filter keep flag is the conjunction of the rule bounds") {
    val good = ("the and of to in " * 10).trim            // 50 stopwords... fails MWL
    val longWords = (1 to 50).map(i => s"abcde$i").mkString(" ") + " the and"
    val short = "too short the and"
    val df = Seq((1L, longWords), (2L, short), (3L, good)).toDF("doc_id", "text")
    val out = Curation.qualityFilter(df, "text", "doc_id",
      minWords = 10, maxWords = 1000, minMeanWordLen = 3.0, maxMeanWordLen = 10.0,
      minStopwordHits = 2, minAlphaWordFrac = 0.5,
      maxDupLineFrac = 1.0, maxDupLineCharFrac = 1.0, lineLen = 5)
      .orderBy("doc_id").collect()
    assert(out(0).getBoolean(10), "long-word doc passes")
    assert(!out(1).getBoolean(10), "short doc fails minWords")
    assert(!out(2).getBoolean(10), "stopword soup fails mean word length")
  }

  // --------------------------------------------------- sampling

  test("stratified sample is deterministic and respects per-stratum rates") {
    val df = (0 until 2000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "s")
    val out = Curation.stratifiedSample(df, "id", "s", Map("a" -> 250, "b" -> 750))
    val n = out.groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 rows per stratum; hash-uniform => counts near 250/750
    assert(math.abs(n("a") - 250) < 60, s"a: ${n("a")}")
    assert(math.abs(n("b") - 750) < 60, s"b: ${n("b")}")
    // deterministic: same membership on re-run
    val ids1 = out.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = Curation.stratifiedSample(df, "id", "s", Map("a" -> 250, "b" -> 750))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // rate=0 and rate=1000 are exact
    assert(Curation.stratifiedSample(df, "id", "s", Map("a" -> 0, "b" -> 1000)).count() == 1000)
  }

  test("stratified sample membership is monotone in the rate") {
    val df = (0 until 500).map(i => (i.toLong, "x")).toDF("id", "s")
    val lo = Curation.stratifiedSample(df, "id", "s", Map("x" -> 200))
      .select("id").collect().map(_.getLong(0)).toSet
    val hi = Curation.stratifiedSample(df, "id", "s", Map("x" -> 600))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi), "raising the rate only adds rows")
  }

  test("chunkByTokens covers every token with the declared window and overlap") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "short doc only")).toDF("doc_id", "text")
    val out = Curation.chunkByTokens(docs, "text", "doc_id", size = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx").collect()
    val c1 = out.filter(_.getLong(0) == 1L)
    // stride 24: chunks start at 0,24,48,72 — last ends exactly at token 100
    assert(c1.length == 4)
    assert(c1.map(_.getLong(3)).toSeq == Seq(32, 32, 32, 28))
    assert(c1(0).getString(2).startsWith("t1 t2 ") && c1(0).getString(2).endsWith(" t32"))
    assert(c1(1).getString(2).startsWith("t25 "), "overlap of 8 re-includes t25..t32")
    assert(c1(3).getString(2).endsWith(" t100"), "tail chunk reaches the last token")
    // every token appears in at least one chunk
    val covered = c1.flatMap(_.getString(2).split(" ")).toSet
    assert(covered == (1 to 100).map(i => s"t$i").toSet)
    val c2 = out.filter(_.getLong(0) == 2L)
    assert(c2.length == 1 && c2(0).getString(2) == "short doc only" && c2(0).getLong(3) == 3)
  }

  test("packSequences: next-fit layout, budget bound, conservation") {
    // nGroups = 1 → one global group, packing order = (doc_id, chunk_idx)
    val rows = Seq((1L, 0, 60L), (1L, 1, 60L), (1L, 2, 20L), (2L, 0, 100L),
      (2L, 1, 200L), (3L, 0, 128L), (3L, 1, 1L))
    val df = rows.toDF("doc_id", "chunk_idx", "n")
    val out = Curation.packSequences(df, "n", Seq("doc_id", "chunk_idx"),
      budget = 128, nGroups = 1)
      .orderBy("doc_id", "chunk_idx").collect()
    // next-fit over lens 60,60,20,100,200,128,1 with budget 128:
    // bin0: 60@0, 60@60 (120); 20 fits → 20@120? no: 120+20>128 → bin1: 20@0,
    // 100@20 (120); 200 overflows → bin2: 200@0 (oversized, own bin);
    // 128 → bin3: 128@0 (exactly full); 1 → bin4: 1@0
    val got = out.map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (1L, 0, 60L, 0L, 0L), (1L, 1, 60L, 0L, 60L), (1L, 2, 20L, 1L, 0L),
      (2L, 0, 100L, 1L, 20L), (2L, 1, 200L, 2L, 0L),
      (3L, 0, 128L, 3L, 0L), (3L, 1, 1L, 4L, 0L)))
    // conservation + budget bound on a larger hashed-group layout
    val big = (1 to 500).map(i => (i.toLong, i % 7, (i % 90 + 1).toLong))
      .toDF("doc_id", "chunk_idx", "n")
    val packed = Curation.packSequences(big, "n", Seq("doc_id", "chunk_idx"),
      budget = 128, nGroups = 8).cache()
    assert(packed.count() == 500)
    assert(packed.select("doc_id", "chunk_idx").distinct().count() == 500)
    val sums = packed.groupBy("pack_group", "bin_idx")
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("s"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("c"))
      .collect()
    assert(sums.forall(r => r.getLong(2) <= 128 || r.getLong(3) == 1L),
      "a bin exceeds the budget only when a single oversized sequence owns it")
    // offsets tile each bin contiguously: max(off + n) == token sum per bin
    val tiled = packed.groupBy("pack_group", "bin_idx")
      .agg(org.apache.spark.sql.functions.max(col("bin_off") + col("n_tokens")).as("hi"),
        org.apache.spark.sql.functions.sum("n_tokens").as("s")).collect()
    assert(tiled.forall(r => r.getLong(2) == r.getLong(3)))
    packed.unpersist()
  }

  test("dsirResample: deterministic, temperature-0 = exact top-k, weights steer selection") {
    val target = Seq((100L, "spark shuffle partition executor broadcast codegen")).toDF("doc_id", "text")
    val raw = ((1L to 40L).map(i => (i, "banana apple cherry mango papaya lime")) ++
      (41L to 50L).map(i => (i, "spark shuffle partition executor broadcast codegen")))
      .toDF("doc_id", "text")
    val scored = Curation.dsirScores(raw, target, "text", "doc_id", buckets = 256).cache()
    // temperature 0: deterministic top-k by logw — all target-like docs first
    val top = Curation.dsirResample(scored, "doc_id", k = 10, temperature = 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(top == (41L to 50L).toSet)
    // sampled variant is deterministic given (corpus, seed) and shifts
    // mass toward high-logw docs
    val s1 = Curation.dsirResample(scored, "doc_id", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Curation.dsirResample(scored, "doc_id", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "same seed, same selection")
    assert((s1 & (41L to 50L).toSet).size > 5,
      "importance weights dominate a 4:1 adverse prior")
    scored.unpersist()
    // with equal weights selection is pure (seeded) noise: different seeds
    // pick different subsets, same seed is stable
    val flat = (1L to 50L).map(i => (i, "same text every time")).toDF("doc_id", "text")
    val flatScored = Curation.dsirScores(flat, target, "text", "doc_id", buckets = 256).cache()
    val f1 = Curation.dsirResample(flatScored, "doc_id", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val f2 = Curation.dsirResample(flatScored, "doc_id", k = 10, seed = "other")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(f1 != f2, "different seed resamples differently under equal weights")
    flatScored.unpersist()
  }

  test("vocabulary: counts, deterministic tie-break rank, minCount and topK truncation") {
    val docs = Seq((1L, "b a a c b a"), (2L, "a b z"), (3L, "q")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.vocabulary(docs, "text", minCount = 2L, topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // counts: a=4 b=3 c=1 z=1 q=1 → minCount 2 keeps a,b; ranks 1,2
    assert(out.toSet == Set(("a", 4L, 1L), ("b", 3L, 2L)))
    // tie-break: equal counts rank alphabetically
    val tied = graft.ops.TextAnalysis.vocabulary(
      Seq((1L, "x y x y")).toDF("doc_id", "text"), "text", minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(tied.toSet == Set(("x", 1L), ("y", 2L)))
    // n = 2: overlapping bigram collocations; short docs fall back to one gram
    val grams = graft.ops.TextAnalysis.vocabulary(
      Seq((1L, "a b a b"), (2L, "q")).toDF("doc_id", "text"), "text",
      minCount = 1L, topK = 10, n = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(grams == Map("a b" -> 2L, "b a" -> 1L, "q" -> 1L))
  }

  test("collocations: exact decimal lift, minCount prune, adjacency only") {
    // tokens: a:3 b:3 c:2 d:2 e:1, U = 11; pair instances B = 7;
    // (a,b) appears 3x adjacent -> lift = 10^6*3*11^2 div (7*3*3) = 5761904
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "c d a b"), (4L, "e"))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.collocations(docs, "text",
      minCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq(("a", "b", 3L, 3L, 3L, 5761904L, 1L)),
      s"only the repeated adjacent pair survives minCount, exact lift; got ${out.toSeq}")
    // non-adjacent co-occurrence must NOT count: (a,c) share docs but never touch
    val all = graft.ops.TextAnalysis.collocations(docs, "text", 1L, 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!all.contains(("a", "c")) && all.contains(("b", "c")),
      "pairs are strictly adjacent, order-sensitive")
  }

  test("assignSplit: total labeling, band boundaries, determinism, remainder band") {
    val df = (0L until 2000L).toDF("doc_id")
    val out = Curation.assignSplit(df, "doc_id").cache()
    assert(out.count() == 2000)
    val byLabel = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel("train") > byLabel("val") && byLabel("train") > byLabel("test"))
    assert(byLabel.values.sum == 2000)
    // approximate 80/10/10 over a uniform hash
    assert(byLabel("train") > 1500 && byLabel("val") < 250 && byLabel("test") < 250)
    // deterministic: same assignment on re-run, disjoint band membership
    val again = Curation.assignSplit(df, "doc_id")
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
    out.unpersist()
    // remainder falls into the LAST band when per-milles sum below 1000
    val skew = Curation.assignSplit(df, "doc_id", bands = Seq("a" -> 1, "b" -> 1))
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(skew("b") > skew.getOrElse("a", 0L), "unassigned range lands in the final band")
  }

  test("boilerplate removal: keep rules, reassembly order, all-dropped docs vanish") {
    val docs = Seq(
      (1L, "the cat sat on a mat\nxx yy\nclick here now http://spam.example buy\nit is a fine day."),
      (2L, "nav menu footer login"), // no stopwords → dropped, doc vanishes
      (3L, "short ok\nthe end is near")).toDF("doc_id", "text")
    val sig = Curation.lineSignals(docs, "text", "doc_id",
      minWords = 3, minStopPermille = 100, maxLinkPermille = 300)
      .orderBy("doc_id", "pos").collect()
    val l1 = sig.filter(_.getLong(0) == 1L)
    assert(l1.map(_.getBoolean(8)).toSeq == Seq(true, false, false, true),
      "2-word line and link-heavy line are boilerplate")
    assert(l1(2).getLong(6) == 1L, "http token counted as link")
    assert(l1(3).getBoolean(7), "terminal punctuation detected")
    val out = Curation.removeBoilerplate(docs, "text", "doc_id",
      minWords = 3, minStopPermille = 100, maxLinkPermille = 300)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L), "doc 2 has no content lines")
    assert(out(0).getLong(1) == 4L && out(0).getLong(2) == 2L)
    assert(out(0).getString(3) == "the cat sat on a mat\nit is a fine day.")
    assert(out(1).getString(3) == "the end is near")
  }

  test("dsir: feature counts, score wiring, and target-affinity ordering") {
    val target = Seq((100L, "spark shuffle partition executor spark shuffle"),
      (101L, "spark executor partition broadcast")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "spark shuffle partition executor"), // target-like
      (2L, "banana apple cherry mango"), // disjoint from target
      (3L, "spark banana")).toDF("doc_id", "text")
    val out = Curation.dsirScores(raw, target, "text", "doc_id", buckets = 64)
      .orderBy("doc_id").collect()
    // n_feats = unigrams + bigrams = 2*len - 1
    assert(out.map(_.getLong(1)).toSeq == Seq(7L, 7L, 3L))
    // the target-like doc outranks the mixed doc, which outranks the
    // disjoint doc — the DSIR ordering the score exists to produce
    val logw = out.map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(logw(1L) > logw(3L) && logw(3L) > logw(2L))
    assert(out.forall(r => r.getDouble(5) == r.getLong(4) / 1e6),
      "logw is exactly score_micronats/1e6")
    // score is the exact integer dot with the driver-side model: recompute
    // it from the same public totals the operator trains on
    val t = Curation.dsirBucketTotals(target, "text", buckets = 64)
    val r = Curation.dsirBucketTotals(raw, "text", buckets = 64)
    val tTot = t.sum.toDouble + 64
    val rTot = r.sum.toDouble + 64
    val lambda = Array.tabulate(64)(b =>
      math.round(1e6 * (math.log((t(b) + 1.0) / tTot) - math.log((r(b) + 1.0) / rTot))))
    val feats = raw.select(col("doc_id"),
        Curation.dsirFeatures(col("text"), buckets = 64).as("f"))
      .collect().map(row => row.getLong(0) ->
        row.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getInt(0), s.getLong(1)))).toMap
    out.foreach { row =>
      val expected = feats(row.getLong(0)).map { case (b, c) => c * lambda(b) }.sum
      assert(row.getLong(4) == expected, s"doc ${row.getLong(0)} score mismatch")
    }
    // reusable totals short-circuit retraining and give identical results
    val again = Curation.dsirScores(raw, target, "text", "doc_id", buckets = 64,
      targetTotals = Some(t), rawTotals = Some(r)).orderBy("doc_id").collect()
    assert(again.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("bloom decontamination produces exactly the broadcast-exact results") {
    // Bloom pre-filter + exact join == exact decontaminate (no false
    // negatives; the join removes false positives) — on the real corpus
    val docs = EntrySupport.t(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val exact = Curation.decontaminate(corpus, bench, "text", "doc_id", n = 4)
      .select("doc_id", "n_contaminated_grams", "contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val bloom = Curation.decontaminateBloom(corpus, bench, "text", "doc_id", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // decontaminate reports every corpus doc; bloom only docs with >=1 hit
    assert(bloom == exact.filter(_._2 > 0), "hit sets and counts must agree exactly")
  }

  test("compression ratio separates repetitive from varied text and is deterministic") {
    val df = Seq(
      (1L, "spam " * 400),
      (2L, (1 to 400).map(i => s"w${i * 7919 % 1000}x$i").mkString(" ")),
      (3L, "")
    ).toDF("id", "text")
    val rs = df.select(col("id"), graft.ops.TextAnalysis.compressionRatio(col("text")).as("cr"))
      .orderBy("id").collect().map(_.getDouble(1))
    assert(rs(0) < 0.05, s"pure repetition compresses hard: ${rs(0)}")
    assert(rs(1) > rs(0) * 5, s"varied text compresses less: ${rs(1)}")
    assert(rs(2) == 1.0, "empty text defined as 1.0")
    val again = df.select(graft.ops.TextAnalysis.compressionRatio(col("text")))
      .collect().map(_.getDouble(0))
    assert(again.sorted.toSeq == rs.sorted.toSeq, "deterministic across evaluations")
  }

  // ------------------------------------------ end-to-end (README pipeline)

  test("the README curation pipeline composes end-to-end on the test corpus") {
    import graft.ops.{Dedup, TextAnalysis}
    val docs = EntrySupport.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val evalBench = docs.filter(col("doc_id") % 13 === 0).select("doc_id", "text")

    val quality = Curation.qualityFilter(docs, "text", "doc_id", minWords = 5)
    val kept = docs.join(quality.where(col("keep")), Seq("doc_id"), "left_semi")
    val deduped = Curation.lineDedup(kept, "text", "doc_id")
      .withColumnRenamed("text_dedup", "text")
      .join(kept.select("doc_id", "lang"), Seq("doc_id"))
    val pairs = Dedup.minhashCandidates(deduped, "text", "doc_id")
      .filter(col("est_jaccard") >= 0.8).select("idA", "idB")
    val clusters = Dedup.clusterAssignments(deduped, "doc_id", pairs)
    val reps = deduped.join(clusters.where(col("id") === col("cluster_id"))
      .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
    val clean = Curation.decontaminate(reps, evalBench, "text", "doc_id")
    val safe = reps.join(clean.where(!col("contaminated")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), Curation.redactPii(col("text")).as("text"))
      .withColumn("n_tokens", TextAnalysis.wsTokenCount(col("text")))
    val rates = Curation.mixRates(safe, "lang", "n_tokens",
      Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.3))
    val sample = Curation.stratifiedSample(safe, "doc_id", "lang", rates, defaultPermille = 0)

    val n = sample.count()
    assert(n > 0 && n < docs.count(), s"pipeline must select a strict subset ($n)")
    assert(sample.columns.toSeq == Seq("doc_id", "lang", "text", "n_tokens"))
    // only targeted strata survive the mix (es/zh got no rate)
    val langs = sample.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "fr")))
  }

  // --------------------------------------------------- property laws

  test("property: line dedup conserves the distinct-line set exactly") {
    // over random corpora drawn from a small line pool (forcing collisions):
    // the concatenation of all output docs contains every distinct input
    // line exactly once, and each output doc's lines are an ordered
    // subsequence of its input lines
    val rnd = new scala.util.Random(7L)
    val pool = (1 to 12).map(i => s"line number $i with words")
    (1 to 5).foreach { trial =>
      val docs = (1 to 20).map { id =>
        val n = 1 + rnd.nextInt(6)
        (id.toLong, (1 to n).map(_ => pool(rnd.nextInt(pool.length))).mkString("\n"))
      }
      val df = docs.toDF("doc_id", "text")
      val out = Curation.lineDedup(df, "text", "doc_id").collect()
        .map(r => r.getLong(0) -> r.getString(3)).toMap
      val inputDistinct = docs.flatMap(_._2.split("\n")).distinct.sorted
      val outputAll = out.values.flatMap(_.split("\n")).toSeq.sorted
      assert(outputAll == inputDistinct, s"trial $trial: conservation violated")
      out.foreach { case (id, text) =>
        val inLines = docs.find(_._1 == id).get._2.split("\n").toSeq
        val outLines = text.split("\n").toSeq
        // ordered subsequence check
        var i = 0
        outLines.foreach { l =>
          val j = inLines.indexOf(l, i)
          assert(j >= 0, s"trial $trial doc $id: '$l' out of order")
          i = j + 1
        }
      }
    }
  }

  test("property: pii redaction is idempotent") {
    val rnd = new scala.util.Random(11L)
    val frags = Seq("plain words", "a@b.io", "+1-555-000-1234", "10.1.2.3",
      "4111222233334444", "x@y.org more", "99.200.1.250", "text")
    val texts = (1 to 200).map { i =>
      (i.toLong, (1 to (1 + rnd.nextInt(5))).map(_ => frags(rnd.nextInt(frags.length))).mkString(" "))
    }
    val df = texts.toDF("id", "text")
    val once = df.select(col("id"), Curation.redactPii(col("text")).as("r"))
    val twice = once.select(col("id"), Curation.redactPii(col("r")).as("r2"), col("r"))
    assert(twice.filter(col("r") =!= col("r2")).count() == 0)
    // and nothing redacted survives detection
    val resid = once.select(Curation.piiStats(col("r")).as("p")).select("p.*")
      .filter(col("n_emails") + col("n_phones") + col("n_ccs") + col("n_ips") > 0)
    assert(resid.count() == 0, "redacted text must contain no detectable PII")
  }

  test("property: rate sample and its complement partition the input") {
    val df = (0 until 1000).map(i => (i.toLong, "s")).toDF("id", "s")
    val in = Curation.stratifiedSample(df, "id", "s", Map("s" -> 300))
      .select("id").collect().map(_.getLong(0)).toSet
    val h = Curation.portableHash31(col("id"), "graft")
    val out = df.where(pmod(h, lit(1000L)) >= 300)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(in.intersect(out).isEmpty && (in ++ out).size == 1000)
  }

  test("property: a doc that IS a benchmark doc is always contaminated") {
    val rnd = new scala.util.Random(3L)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docs = (1 to 30).map { id =>
      (id.toLong, (1 to (2 + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val bench = docs.filter(_._1 % 5 == 0).toDF("doc_id", "text")
    val corpus = docs.toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench, "text", "doc_id", n = 4)
      .filter(col("doc_id") % 5 === 0)
    assert(out.filter(!col("contaminated")).count() == 0,
      "every benchmark member must flag as contaminated regardless of length")
  }

  // ------------------------------------------- exact substring dedup

  test("exact substring dedup removes every occurrence of a shared span except the first") {
    // doc 1 and doc 3 share a 6-token license tail; with minTokens=4 the
    // three 4-gram windows inside the tail mark doc 3's copy (doc 1 is
    // the minimal (doc, pos) occurrence) and their covers union to the
    // whole span
    val tail = "all rights reserved by the author"
    val docs = Seq(
      (1L, s"alpha beta gamma delta $tail"),
      (2L, "epsilon zeta eta theta iota kappa"),
      (3L, s"unique words here $tail")
    ).toDF("doc_id", "text")
    val out = Curation.exactSubstrDedup(docs, "text", "doc_id", minTokens = 4)
      .orderBy("doc_id").collect()
    assert(out(0).getString(3) == s"alpha beta gamma delta $tail", "first occurrence intact")
    assert(out(1).getString(3) == "epsilon zeta eta theta iota kappa", "untouched doc intact")
    assert(out(2).getString(3) == "unique words here", "duplicate span removed")
    assert(out(2).getLong(1) == 9L && out(2).getLong(2) == 3L, "n_tokens / n_kept accounting")
  }

  test("exact substring dedup collapses intra-document repetition to the first occurrence") {
    val docs = Seq((1L, "one two three four one two three four one two three four"))
      .toDF("doc_id", "text")
    val out = Curation.exactSubstrDedup(docs, "text", "doc_id", minTokens = 4)
      .collect()(0)
    assert(out.getString(3) == "one two three four")
    assert(out.getLong(2) == 4L)
  }

  test("exact substring dedup leaves docs shorter than the span threshold alone") {
    // both docs are the same 3-token text — below minTokens=4 they emit
    // no shingles, so whole-doc duplication is (by design) not this
    // operator's job
    val docs = Seq((1L, "tiny dup doc"), (2L, "tiny dup doc")).toDF("doc_id", "text")
    val out = Curation.exactSubstrDedup(docs, "text", "doc_id", minTokens = 4)
    assert(out.count() == 2)
    assert(out.filter(col("n_kept") =!= 3L).count() == 0)
  }

  test("exact substring dedup is conservative: nothing removed without a repeat") {
    val docs = Seq(
      (1L, "The Quick   Brown fox Jumps over the lazy dog today"),
      (2L, "completely different words in this second document here now")
    ).toDF("doc_id", "text")
    val out = Curation.exactSubstrDedup(docs, "text", "doc_id", minTokens = 4)
      .orderBy("doc_id").collect()
    // normalization (trim → lower → \s+ split) is the only change
    assert(out(0).getString(3) == "the quick brown fox jumps over the lazy dog today")
    assert(out.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("stratified quota takes exactly quota rows per stratum, deterministically") {
    val df = (0 until 300).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "s")
    val out = Curation.stratifiedQuota(df, "id", "s", quota = 10)
    val n = out.groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == Map("a" -> 10L, "b" -> 10L))
    val again = Curation.stratifiedQuota(df, "id", "s", quota = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("id").collect().map(_.getLong(0)).toSet)
    // quota larger than the stratum returns the whole stratum
    assert(Curation.stratifiedQuota(df, "id", "s", quota = 1000).count() == 300)
  }

  test("percentileRank: per-mille ranks, tie by id, singleton gets 0") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 20L), ("a", 4L, 30L), ("a", 5L, 5L),
      ("b", 6L, 100L)
    ).toDF("g", "id", "score")
    val out = Curation.percentileRank(df, "score", "id", Seq("g"))
      .collect().map(r => (r.getLong(1), r.getInt(3))).toMap
    // a ranks by (score, id): 5->1, 1->2, 3->3, 2->4, 4->5; permille = (rk-1)*1000//4
    assert(out == Map(5L -> 0, 1L -> 250, 3L -> 500, 2L -> 750, 4L -> 1000, 6L -> 0))
    // output column collision is rejected
    intercept[IllegalArgumentException] {
      Curation.percentileRank(df.withColumn("permille", lit(1)), "score", "id", Seq("g"))
    }
  }

  test("repetitionStats: hand-computed top and dup n-gram fractions") {
    val df = Seq((1L, "a b a b a c")).toDF("id", "text")
    val r = Curation.repetitionStats(df, "text", "id").collect()(0)
    // 2-grams: "a b"x2, "b a"x2, "a c"x1; tie breaks to byte-smallest "a b";
    // chars = 2*3 over total 5*3
    assert(r.getAs[String]("top_2gram") == "a b")
    assert(r.getAs[Double]("top_2gram_frac") == 6.0 / 15.0)
    // 3-grams: "a b a"x2 of 4 grams; 2*5 over 4*5
    assert(r.getAs[String]("top_3gram") == "a b a")
    assert(r.getAs[Double]("top_3gram_frac") == 10.0 / 20.0)
    // 4-grams all unique: count-1 tie -> byte-smallest "a b a b"; 7 over 21
    assert(r.getAs[String]("top_4gram") == "a b a b")
    assert(r.getAs[Double]("top_4gram_frac") == 7.0 / 21.0)
    // 5/6-grams occur once each -> dup 0; n=7..10 have no grams -> 0
    (5 to 10).foreach(n => assert(r.getAs[Double](s"dup_${n}gram_frac") == 0.0, s"n=$n"))
  }

  test("repetitionStats: periodic text is caught by the dup fractions") {
    val df = Seq((1L, Seq.fill(4)("x y").mkString(" "))).toDF("id", "text")
    val r = Curation.repetitionStats(df, "text", "id").collect()(0)
    // 8 tokens x-y alternating: "x y"x4 of 7 bigrams -> 12/21
    assert(r.getAs[String]("top_2gram") == "x y")
    assert(r.getAs[Double]("top_2gram_frac") == 12.0 / 21.0)
    // 5-grams: both distinct grams appear twice -> dup = 2*9 over 4*9
    assert(r.getAs[Double]("dup_5gram_frac") == 0.5)
  }

  test("repetitionFilter: Gopher thresholds keep natural text, drop loops") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog while nobody watches closely"),
      (2L, Seq.fill(20)("buy now limited offer").mkString(" "))
    ).toDF("id", "text")
    val keep = Curation.repetitionFilter(df, "text", "id")
      .orderBy("id").collect().map(_.getAs[Boolean]("keep")).toSeq
    assert(keep == Seq(true, false))
  }

  // -------------------------------------------------------- epoch shuffle

  test("epochShuffle: positions are a bijection onto 0..n-1 in portable-hash order") {
    val df = (0L until 500L).map(i => (i, s"doc$i")).toDF("id", "payload")
    val got = Curation.epochShuffle(df, "id", epoch = 0, buckets = 8)
      .select("id", "shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSeq.sorted == (0L until 500L))
    // order law: pos ranks (hash, id) ascending — check on the driver
    val byHash = (0L until 500L).sortBy { i =>
      val s = "graft-shuffle-e0|" + i
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hv = java.lang.Long.parseLong(
        md.take(4).map(b => f"$b%02x").mkString, 16) & 2147483647L
      (hv, i)
    }
    byHash.zipWithIndex.foreach { case (id, pos) =>
      assert(got(id) == pos.toLong, s"id $id")
    }
  }

  test("epochShuffle: different epochs permute differently; same epoch is stable") {
    val df = (0L until 200L).map(i => (i, i)).toDF("id", "v")
    def posMap(e: Int) = Curation.epochShuffle(df, "id", epoch = e, buckets = 4)
      .select("id", "shuffle_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e0 = posMap(0); val e0b = posMap(0); val e1 = posMap(1)
    assert(e0 == e0b)
    assert(e0 != e1)
    // not just a shifted copy: many rows must actually move
    assert((0L until 200L).count(i => e0(i) != e1(i)) > 150)
  }

  test("assignSplitByCluster: a cluster never straddles splits; singletons match assignSplit") {
    val df = (0L until 300L).map(i => (i, s"doc$i")).toDF("id", "payload")
    // clusters of 3: ids 0..149 in 50 clusters; 150..299 unclustered
    val clusters = (0L until 150L).map(i => (i, i / 3 * 3)).toDF("id", "cluster_id")
    val out = Curation.assignSplitByCluster(df, "id", clusters)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // every cluster is split-homogeneous
    (0L until 150L by 3).foreach { c =>
      assert(Set(out(c), out(c + 1), out(c + 2)).size == 1, s"cluster $c straddles")
    }
    // unclustered ids band exactly like plain assignSplit
    val plain = Curation.assignSplit(df.where(col("id") >= 150), "id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    (150L until 300L).foreach(i => assert(out(i) == plain(i)))
    // all three labels occur (sanity on the banding)
    assert(out.values.toSet == Set("train", "val", "test"))
  }

  test("contaminationReport: per-source rates localize the leaking source") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over dogs", "clean"),
      (2L, "totally original content here folks", "clean"),
      (3L, "held out eval question text here", "leaky"),
      (4L, "more held out eval question text", "leaky")
    ).toDF("doc_id", "text", "source")
    val bench = Seq((100L, "held out eval question text and answers")).toDF("doc_id", "text")
    val out = Curation.contaminationReport(corpus, bench, "text", "doc_id", "source", n = 4)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("leaky") == (2L, 2L, 1000L))
    assert(out("clean") == (2L, 0L, 0L))
  }

  test("dsirResampleByGroup: per-group quotas, greedy at T=0, deterministic") {
    val df = (0 until 40).map { i =>
      (i.toLong, if (i < 30) "big" else "small", i.toDouble / 10)
    }.toDF("id", "g", "logw")
    // T=0 is greedy top-logw per group
    val greedy = Curation.dsirResampleByGroup(df, "id", Seq("g"), k = 3, temperature = 0.0)
      .collect().map(r => r.getString(1) -> r.getLong(0))
    assert(greedy.filter(_._1 == "big").map(_._2).sorted.toSeq == Seq(27L, 28L, 29L))
    assert(greedy.filter(_._1 == "small").map(_._2).sorted.toSeq == Seq(37L, 38L, 39L))
    // sampled tier: quota respected per group; dominant stratum cannot starve the small one
    val s = Curation.dsirResampleByGroup(df, "id", Seq("g"), k = 5)
      .collect().map(r => r.getString(1)).groupBy(identity).view.mapValues(_.length).toMap
    assert(s == Map("big" -> 5, "small" -> 5))
    // deterministic across runs
    val a = Curation.dsirResampleByGroup(df, "id", Seq("g"), k = 5).collect().map(_.getLong(0)).sorted
    val b = Curation.dsirResampleByGroup(df, "id", Seq("g"), k = 5).collect().map(_.getLong(0)).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("kAnonymityAudit flags small classes; suppressToK keeps null classes null-safely") {
    val df = Seq(
      ("us", "a"), ("us", "a"), ("us", "a"), // class of 3: safe at k=3
      ("us", "b"), ("us", "b"), // class of 2: violates
      ("de", "a"), // class of 1: violates
      (null: String, "a"), (null, "a"), (null, "a") // null class of 3: safe
    ).toDF("country", "seg")
    val audit = Curation.kAnonymityAudit(df, Seq("country", "seg"), k = 3)
      .collect().map(r => (Option(r.getString(0)), r.getString(1)) -> r.getLong(2)).toMap
    assert(audit == Map((Some("us"), "b") -> 2L, (Some("de"), "a") -> 1L))
    val kept = Curation.suppressToK(df, Seq("country", "seg"), k = 3)
      .collect().map(r => (Option(r.getString(0)), r.getString(1)))
    assert(kept.count(_ == (Some("us"), "a")) == 3)
    assert(kept.count(_ == (None, "a")) == 3, "null class of 3 must SURVIVE (null-safe join)")
    assert(kept.length == 6)
  }

  test("lDiversityAudit: large-but-homogeneous classes flagged; nulls are one value") {
    val df = Seq(
      ("z1", "flu"), ("z1", "flu"), ("z1", "flu"), // k-safe size 3, diversity 1
      ("z2", "flu"), ("z2", "cold"), // diversity 2
      ("z3", null: String), ("z3", null), ("z3", "flu") // null + flu = diversity 2
    ).toDF("zip", "diag")
    val l2 = Curation.lDiversityAudit(df, Seq("zip"), "diag", l = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(l2.toSeq == Seq(("z1", 3L, 1L)),
      "only the homogeneous class violates distinct-2 diversity")
    val l3 = Curation.lDiversityAudit(df, Seq("zip"), "diag", l = 3)
      .collect().map(_.getString(0)).sorted
    assert(l3.toSeq == Seq("z1", "z2", "z3"))
  }

  test("trimToTokens: head kept, whitespace normalized, counts and flag exact, zero shuffle") {
    val df = Seq(
      (1L, "  a  b\tc\nd e "), // messy whitespace, 5 tokens
      (2L, "one two"), // under budget
      (3L, "")).toDF("doc_id", "text")
    val out = Curation.trimToTokens(df, "text", "doc_id", maxTokens = 3)
    val got = out.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getString(4))))
      .toMap
    assert(got(1L) == ((5L, 3L, true, "a b c")), s"got ${got(1L)}")
    assert(got(2L) == ((2L, 2L, false, "one two")))
    assert(got(3L) == ((1L, 1L, false, "")), "empty text counts its one empty token")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"trim must be a bare projection:\n$plan")
  }

  test("dedupeLinesInDoc: local first occurrence wins, empties survive, zero shuffle") {
    val df = Seq(
      (1L, "head\nbody\n\nhead\nbody\ntail"), // head+body repeat; blank stays
      (2L, "head\nhead\nhead"), // fully repeated keeps first
      (3L, "solo")).toDF("doc_id", "text")
    val out = Curation.dedupeLinesInDoc(df, "text", "doc_id")
    val got = out.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((6L, 4L, "head\nbody\n\ntail")), s"got ${got(1L)}")
    assert(got(2L) == ((3L, 1L, "head")), "local dedup keeps the doc's own first line")
    assert(got(3L) == ((1L, 1L, "solo")))
    // cross-doc repeats must SURVIVE (that's lineDedup's job, not this one's)
    val cross = Curation.dedupeLinesInDoc(
      Seq((1L, "same"), (2L, "same")).toDF("doc_id", "text"), "text", "doc_id")
    assert(cross.collect().map(_.getString(3)).toSeq == Seq("same", "same"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"local pass must be a bare projection — no shuffle, no explode:\n$plan")
  }

  test("alignScores: rank-to-rank selection, aligned values are reference members") {
    // group g: scores 1,2,3,4 (n=4); ref: 10,20,30,40,50,60,70,80 (m=8)
    // idx = ceil(r*8/4) = 2,4,6,8 -> aligned 20,40,60,80
    val df = Seq((1L, "g", 1L), (2L, "g", 2L), (3L, "g", 3L), (4L, "g", 4L),
      (5L, "h", 7L)).toDF("id", "grp", "score")
    val ref = (1L to 8L).map(i => i * 10L).toDF("rscore")
    val got = Curation.alignScores(df, "score", "id", Seq("grp"), ref, "rscore")
      .collect().map(r => (r.getLong(1), (r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      1L -> ((250L, 20L)), 2L -> ((500L, 40L)),
      3L -> ((750L, 60L)), 4L -> ((1000L, 80L)),
      5L -> ((1000L, 80L))), // singleton group maps to the ref max
      s"got $got")
    // reference ties: any tie order yields the same aligned VALUE
    val tied = Seq(10L, 20L, 20L, 40L).toDF("rscore")
    val got2 = Curation.alignScores(df.filter(col("grp") === "g"), "score",
      "id", Seq("grp"), tied, "rscore")
      .collect().map(r => (r.getLong(1), r.getLong(4))).toMap
    assert(got2 == Map(1L -> 10L, 2L -> 20L, 3L -> 20L, 4L -> 40L))
    // an EMPTY reference fails loudly instead of silently emitting an
    // empty frame (the inner join on refRanked would drop every row)
    val err = intercept[IllegalArgumentException] {
      Curation.alignScores(df, "score", "id", Seq("grp"),
        ref.filter(col("rscore") < 0L), "rscore")
    }
    assert(err.getMessage.contains("reference corpus is empty"), err.getMessage)
  }

  test("decontaminateEmbedding: paraphrase-tier flags, argmax ties to smallest id, zero-norm safe") {
    // corpus: 10 = exact copy of bench 1; 11 = near-parallel (cos ~ 999);
    // 12 = orthogonal; 13 = zero vector
    val bench = Seq((1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(2.0, 0.0)), (11L, Array(1.0, 0.02)),
      (12L, Array(0.0, 1.0)), (13L, Array(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Curation.decontaminateEmbedding(corpus, bench, "embedding",
      "vec_id", minCosPermille = 990L, dim = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got(10L) == ((1L, 1000L, true)),
      "scaled copy scores 1000; tie between bench 1 and 2 resolves to 1")
    assert(got(11L)._2 >= 990L && got(11L)._3, "near-parallel is contaminated")
    assert(got(12L) == ((1L, 0L, false)), "orthogonal passes")
    assert(got(13L) == ((1L, 0L, false)), "zero-norm scores 0, not NaN")
  }

  test("filterFunnel: first-fail attribution, null = fail, kills sum to input minus survivors") {
    // doc 1 passes all; 2 fails r1 (and r2 — attributed to r1 only);
    // 3 fails r2; 4 has NULL len -> fails r1 by the null-is-fail rule
    val df = Seq(
      (1L, Some(100L), "en"), (2L, Some(5L), "zh"),
      (3L, Some(50L), "zh"), (4L, None: Option[Long], "en"))
      .toDF("id", "len", "lang")
    val out = Curation.filterFunnel(df, Seq(
      "len_ok" -> (col("len") >= 10L),
      "lang_ok" -> (col("lang") =!= "zh")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, "len_ok", 4L, 2L, 2L, 500L),
      (2L, "lang_ok", 2L, 1L, 1L, 500L)),
      s"got ${out.toSeq}")
    val killed = out.map(_._4).sum
    assert(killed == 4 - 1, "attribution partitions the dropped set exactly")
  }

  test("filterFunnel: plan is one aggregate scan, not one job per rule") {
    val df = Seq((1L, 10L), (2L, 20L)).toDF("id", "len")
    val plan = Curation.filterFunnel(df, Seq(
      "a" -> (col("len") > 0L), "b" -> (col("len") > 5L),
      "c" -> (col("len") > 15L))).queryExecution.executedPlan.toString
    // all three conditional sums live in ONE HashAggregate pair
    assert(plan.split("HashAggregate").length - 1 <= 4,
      s"rules must fuse into a single partial+final aggregate:\n$plan")
  }

  test("tClosenessAudit: exact variational distances, absent values, null sensitive") {
    // global: flu 3, cold 5, null 2; N = 10
    // A = 3 flu + 1 cold, B = 4 cold (flu ABSENT — closed-form mass),
    // C = 2 null. Hand TV permille: A 450, B 500, C 800.
    val df = Seq(
      ("A", "flu"), ("A", "flu"), ("A", "flu"), ("A", "cold"),
      ("B", "cold"), ("B", "cold"), ("B", "cold"), ("B", "cold"),
      ("C", null: String), ("C", null)).toDF("zip", "diag")
    val got = Curation.tClosenessAudit(df, Seq("zip"), "diag", tPermille = 0L)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("A" -> ((4L, 450L)), "B" -> ((4L, 500L)), "C" -> ((2L, 800L))),
      s"hand-computed distances must replay exactly, got $got")
    val strict = Curation.tClosenessAudit(df, Seq("zip"), "diag", tPermille = 600L)
      .collect().map(_.getString(0))
    assert(strict.toSeq == Seq("C"), "threshold gates membership")
  }

  test("tClosenessAudit: identical class mix scores distance 0 and never breaches") {
    // both classes carry the exact global mix -> TV = 0
    val df = Seq(
      ("A", "x"), ("A", "y"), ("B", "x"), ("B", "y")).toDF("zip", "diag")
    assert(Curation.tClosenessAudit(df, Seq("zip"), "diag", 0L).count() == 0)
  }

  test("wordDropout: deterministic, exact extremes, kept tokens are an ordered subsequence") {
    import SparkTestBase.spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"), (2L, ""))
      .toDF("doc_id", "text")
    val keepAll = Curation.wordDropout(df, "doc_id", "text", 0)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(keepAll(1L) == (("alpha beta gamma delta epsilon zeta eta theta", 8L, 8L)))
    assert(keepAll(2L) == (("", 0L, 0L)))
    val dropAll = Curation.wordDropout(df, "doc_id", "text", 1000)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dropAll(1L) == "")
    val a = Curation.wordDropout(df, "doc_id", "text", 500).collect().map(_.toSeq)
    val b = Curation.wordDropout(df, "doc_id", "text", 500).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq, "no RNG anywhere: identical across runs")
    val mid = a.find(_.head == 1L).get
    val keptToks = mid(1).asInstanceOf[String].split(" ").filter(_.nonEmpty).toSeq
    val orig = "alpha beta gamma delta epsilon zeta eta theta".split(" ").toSeq
    // subsequence check: kept order must follow original order
    assert(keptToks.foldLeft(orig) { (rest, t) =>
      val i = rest.indexOf(t); assert(i >= 0, s"$t out of order"); rest.drop(i + 1)
    } != null)
  }

  test("round-5 operators reject out-of-contract parameters loudly") {
    import SparkTestBase.spark.implicits._
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Curation.wordDropout(df, "doc_id", "text", dropPermille = 1001)
    }
    intercept[IllegalArgumentException] {
      Curation.spanCorrupt(df, "doc_id", "text", startPermille = -1)
    }
    intercept[IllegalArgumentException] {
      Curation.spanCorrupt(df, "doc_id", "text", startPermille = 100, spanLen = 0)
    }
    intercept[IllegalArgumentException] {
      Curation.selectByTokenBudget(df, Seq("doc_id"), "doc_id", "doc_id",
        "doc_id", tokenBudget = -1L)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Graph.seedDistance(Seq(("a", "b")).toDF("s", "d"), "s", "d",
        Seq("a").toDF("n"), "n", maxHops = -1)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Similarity.kCenterSelect(
        Seq((1L, Seq(1.0))).toDF("id", "vec"), "vec", "id", k = 0, firstId = 1L)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Temporal.acf(df.select(col("doc_id")), "doc_id", 0L, Seq(1))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Temporal.acf(df.select(col("doc_id")), "doc_id", 60L, Seq(0))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Profile.giniByGroup(df, "doc_id", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Profile.balanceReport(df, Seq.empty, "text")
    }
  }

  test("selectByTokenBudget: strict prefix per group, score-then-id order, exact boundary") {
    import SparkTestBase.spark.implicits._
    // group A ordered by score desc: id2(s9,t4), id1(s7,t5), id3(s7,t2), id4(s1,t1)
    // budget 9: cum 4, 9, 11, 12 -> selected 1,1,0,0 (strict prefix: id4
    // not back-filled even though it would fit a skip-and-refill scheme)
    val df = Seq(
      ("A", 1L, 7L, 5L), ("A", 2L, 9L, 4L), ("A", 3L, 7L, 2L), ("A", 4L, 1L, 1L),
      ("B", 9L, 5L, 100L))
      .toDF("g", "id", "score", "toks")
    val out = Curation.selectByTokenBudget(df, Seq("g"), "id", "score", "toks", 9L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(4), r.getInt(5)))).toMap
    assert(out(("A", 2L)) == ((4L, 1)))
    assert(out(("A", 1L)) == ((9L, 1)))   // exactly at budget: selected
    assert(out(("A", 3L)) == ((11L, 0)))
    assert(out(("A", 4L)) == ((12L, 0)))
    assert(out(("B", 9L)) == ((100L, 0))) // one oversized doc: nothing fits
  }

  test("preferencePairAudit: identical, empty, and length-skew flags fire per class") {
    import SparkTestBase.spark.implicits._
    val pairs = Seq(
      (1L, "good long answer here", "good long answer here"),   // identical
      (2L, "an answer", ""),                                     // empty rejected
      (3L, "one two three four five six seven eight", "ok"),     // 8:1 skew
      (4L, "fine answer", "other answer"))                       // clean
      .toDF("id", "chosen", "rejected")
    val out = Curation.preferencePairAudit(pairs, "id", "chosen", "rejected")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out(1L) == ((1, 0, 0, 4L, 4L, 1000L)))
    assert(out(2L) == ((0, 0, 1, 2L, 0L, 0L)))
    assert(out(3L) == ((0, 0, 0, 8L, 1L, 125L)))
    assert(out(4L) == ((0, 0, 0, 2L, 2L, 1000L)))
  }

  test("repeatedEpochValue: staged-decay accounting, exact-epoch corners, budget guard") {
    import SparkTestBase.spark.implicits._
    val plan = Seq(
      ("a", 1000L, 2500L),  // 2 full epochs + half: 1000+500 + 500*250/1000 = 1625
      ("b", 1000L, 800L),   // sub-epoch: 800 fresh-equivalent, value 1000
      ("c", 1000L, 1000L),  // exactly one epoch: all fresh
      ("d", 1000L, 0L))     // nothing planned
      .toDF("stratum", "tokens", "em")
    val out = Curation.repeatedEpochValue(plan, "stratum", "tokens", "em")
      .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    assert(out("a") == ((1625L, 2500L, 650L)))
    assert(out("b") == ((800L, 800L, 1000L)))
    assert(out("c") == ((1000L, 1000L, 1000L)))
    assert(out("d") == ((0L, 0L, -1L)))
    val e = intercept[Exception] {
      Curation.repeatedEpochValue(Seq(("x", 10L, 65000L)).toDF("stratum", "tokens", "em"),
        "stratum", "tokens", "em").collect()
    }
    assert(e.getMessage.contains("64 epochs") ||
      Option(e.getCause).exists(_.getMessage.contains("64 epochs")), e.getMessage)
    // value_permille envelope corner: the guard's extremes (1e15 tokens,
    // 64 epochs, no decay) drive effective_tokens to 6.4e16 — the ·1000
    // numerator only fits in the DECIMAL(38,0) carrier (a long multiply
    // wraps to a negative permille here)
    val big = Curation.repeatedEpochValue(
      Seq(("h", 1000000000000000L, 64000L)).toDF("stratum", "tokens", "em"),
      "stratum", "tokens", "em", decayPermille = 1000L).collect().head
    assert(big.getLong(3) == 64000000000000000L, big.toSeq.toString)
    assert(big.getLong(4) == 64000000000000000L)
    assert(big.getLong(5) == 1000L, s"undecayed repetition is worth raw: ${big.getLong(5)}")
    // decay 900 at the same extremes: factor = Σ_{e=0}^{63} 900^e/1000^e
    // staged-truncated — value strictly under 1000 but positive/exact
    val dec9 = Curation.repeatedEpochValue(
      Seq(("i", 1000000000000000L, 64000L)).toDF("stratum", "tokens", "em"),
      "stratum", "tokens", "em", decayPermille = 900L).collect().head
    var (s9, p9) = (BigInt(0), BigInt(1000))
    for (_ <- 1 to 64) { s9 += p9; p9 = p9 * 900 / 1000 }
    val eff9 = (BigInt(1000000000000000L) * s9 / 1000).toLong
    assert(dec9.getLong(3) == eff9)
    assert(dec9.getLong(5) ==
      (BigInt(eff9) * 1000 / BigInt(64000000000000000L)).toLong)
  }

  test("temperatureMixture: flattening order, known isqrt values, guards") {
    import SparkTestBase.spark.implicits._
    val stats = Seq(("big", 1000000L), ("small", 100L)).toDF("g", "c")
    // alpha = 1/2: weights 1000 and 10 — the tail's share rises from
    // ~0.0001 (natural) to ~10/1010
    val out = Curation.temperatureMixture(stats, "g", "c",
      alphaQuarters = 2, budgetTokens = 101000L)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out("big") == ((1000L, 990L, 100000L)))
    assert(out("small") == ((10L, 9L, 1000L)))
    // lower alpha can only raise (or hold) the tail stratum's share
    val shares = (1 to 4).map { q =>
      Curation.temperatureMixture(stats, "g", "c", alphaQuarters = q)
        .where(col("g") === "small").collect().head.getLong(3)
    }
    assert(shares == shares.sorted.reverse, s"tail share must fall with alpha: $shares")
    intercept[IllegalArgumentException] {
      Curation.temperatureMixture(stats, "g", "c", alphaQuarters = 0)
    }
    intercept[IllegalArgumentException] {
      Curation.temperatureMixture(stats, "g", "c", budgetTokens = -1L)
    }
    val e = intercept[Exception] {
      Curation.temperatureMixture(
        Seq(("x", 1000000000000001L)).toDF("g", "c"), "g", "c").collect()
    }
    assert(e.getMessage.contains("1e15") ||
      Option(e.getCause).exists(_.getMessage.contains("1e15")), e.getMessage)
  }

  test("splitLeakageAudit: straddling keys flag, null splits count, null keys drop") {
    import SparkTestBase.spark.implicits._
    val rows = Seq(
      (Some(1L), Some("train")), (Some(1L), Some("train")),
      (Some(2L), Some("train")), (Some(2L), Some("val")), (Some(2L), Some("val")),
      (Some(3L), Some("val")),
      // key 4: assigned + UNASSIGNED rows — the leak-in-waiting must flag
      (Some(4L), Some("train")), (Some(4L), None),
      (None, Some("train")))
      .toDF("k", "split")
    val out = Curation.splitLeakageAudit(rows, "k", "split")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getBoolean(5)))).toMap
    assert(out.size == 4)
    assert(out(1L) == ((1L, 2L, "train", "train", false)))
    assert(out(2L) == ((2L, 3L, "train", "val", true)))
    assert(out(3L) == ((1L, 1L, "val", "val", false)))
    assert(out(4L) == ((2L, 2L, "train", "train", true)))
  }

  test("preferenceConsistency: contradictions, ties, and 3-cycles flag per prompt") {
    import SparkTestBase.spark.implicits._
    val judg = Seq(
      // p1: 1>2 twice, 2>3, and the {1,3} pair judged both ways (contradictory+tied)
      ("p1", 1L, 2L), ("p1", 1L, 2L), ("p1", 2L, 3L), ("p1", 3L, 1L), ("p1", 1L, 3L),
      // p2: a rock-paper-scissors cycle 1>2>3>1, each pair judged once
      ("p2", 1L, 2L), ("p2", 2L, 3L), ("p2", 3L, 1L),
      // p3: a clean transitive order 1>2>3
      ("p3", 1L, 2L), ("p3", 1L, 3L), ("p3", 2L, 3L))
      .toDF("prompt", "winner", "loser")
    val out = Curation.preferenceConsistency(judg, "prompt", "winner", "loser")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(out("p1") == ((5L, 3L, 1L, 1L, 0L, false)))
    assert(out("p2") == ((3L, 3L, 0L, 0L, 1L, false)))
    assert(out("p3") == ((3L, 3L, 0L, 0L, 0L, true)))
    // a 4-cycle alone (1>2>3>4>1 with the diagonals tied) has NO 3-cycle:
    // the audit counts triangles, not general cycles — pin that boundary
    val four = Seq(("q", 1L, 2L), ("q", 2L, 3L), ("q", 3L, 4L), ("q", 4L, 1L),
      ("q", 1L, 3L), ("q", 3L, 1L), ("q", 2L, 4L), ("q", 4L, 2L))
      .toDF("prompt", "winner", "loser")
    val fr = Curation.preferenceConsistency(four, "prompt", "winner", "loser")
      .collect().head
    assert(fr.getLong(5) == 0L && fr.getLong(3) == 2L)
  }

  test("copelandScores: wins minus losses over the majority graph, deterministic rank") {
    import SparkTestBase.spark.implicits._
    val judg = Seq(
      ("p1", 1L, 2L), ("p1", 1L, 2L),           // 1 beats 2 (majority 2-0)
      ("p1", 2L, 3L),                           // 2 beats 3
      ("p1", 3L, 1L), ("p1", 1L, 3L))           // {1,3} split 1-1: tie, no edge
      .toDF("prompt", "winner", "loser")
    val out = graft.ops.Curation.copelandScores(judg, "prompt", "winner", "loser")
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out(1L) == ((1L, 0L, 1L, 1L, 1L)))
    assert(out(2L) == ((1L, 1L, 0L, 0L, 2L)))
    assert(out(3L) == ((0L, 1L, 1L, -1L, 3L)))
  }

  test("waterfillPlan: caps redistribute, budget extremes, zero weight, guard") {
    import SparkTestBase.spark.implicits._
    val stats = Seq(("A", 100L, 1L), ("B", 1000L, 1L), ("C", 10000L, 2L))
      .toDF("stratum", "tokens", "w")
    // budget 4000: proportional would give A/B 1000 each — A caps at 100,
    // then B at 1000, and C absorbs the rest at the final water level
    val out = Curation.waterfillPlan(stats, "stratum", "tokens", "w", 4000L)
      .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getBoolean(4),
        r.getLong(5)))).toMap
    assert(out("A") == ((100L, true, 1000L)))
    assert(out("B") == ((1000L, true, 1000L)))
    assert(out("C") == ((2900L, false, 290L)))
    // budget above total supply: everything caps at availability
    val all = Curation.waterfillPlan(stats, "stratum", "tokens", "w", 20000L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(all == Map("A" -> 100L, "B" -> 1000L, "C" -> 10000L))
    // zero budget allocates nothing, caps nothing
    assert(Curation.waterfillPlan(stats, "stratum", "tokens", "w", 0L)
      .collect().forall(r => r.getLong(3) == 0L && !r.getBoolean(4)))
    // zero-weight strata are reported with allocation 0, not dropped
    val withZero = stats.union(Seq(("D", 50L, 0L)).toDF("stratum", "tokens", "w"))
    val z = Curation.waterfillPlan(withZero, "stratum", "tokens", "w", 4000L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(z("D") == 0L && z("C") == 2900L)
    // negative weight raises loudly
    val bad = Seq(("E", 10L, -1L)).toDF("stratum", "tokens", "w")
    val e = intercept[Exception] {
      Curation.waterfillPlan(bad, "stratum", "tokens", "w", 100L).collect()
    }
    assert(e.getMessage.contains("exact-ordering budget") ||
      Option(e.getCause).exists(_.getMessage.contains("exact-ordering budget")),
      e.getMessage)
  }

  test("spanCorrupt: extremes are exact, spans never overlap, token-count law holds") {
    import SparkTestBase.spark.implicits._
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    // rate 1000: every eligible position opens; spanLen 2 tiles the text
    val full = Curation.spanCorrupt(df, "doc_id", "text", 1000, spanLen = 2)
      .head()
    assert(full.getString(1) == "<extra_id_0> <extra_id_1> <extra_id_2>")
    assert(full.getString(2) == "<extra_id_0> a b <extra_id_1> c d <extra_id_2> e")
    assert(full.getLong(3) == 5L && full.getLong(4) == 3L)
    // rate 0: identity corruption, empty target
    val none = Curation.spanCorrupt(df, "doc_id", "text", 0).head()
    assert(none.getString(1) == "a b c d e" && none.getString(2) == ""
      && none.getLong(4) == 0L)
    // mid rate: deterministic, and kept + masked tokens partition the doc
    val docs = Seq((7L, (1 to 40).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val m1 = Curation.spanCorrupt(docs, "doc_id", "text", 300, spanLen = 3).head()
    val m2 = Curation.spanCorrupt(docs, "doc_id", "text", 300, spanLen = 3).head()
    assert(m1.toSeq == m2.toSeq)
    def realToks(s: String) = s.split(" ").filter(t => t.nonEmpty && !t.startsWith("<extra_id_"))
    val together = (realToks(m1.getString(1)) ++ realToks(m1.getString(2))).sorted.toSeq
    assert(together == (1 to 40).map(i => s"w$i").sorted.toSeq,
      "corrupted + target must partition the original tokens")
    assert(m1.getLong(4) > 0, "rate 300 over 40 tokens should open at least one span")
  }

  test("preferencePairsFromScores: per-prompt best/worst, tie to smallest id, gap gate") {
    import SparkTestBase.spark.implicits._
    val df = Seq(
      // p1: clear winner 30, clear loser 5
      ("p1", 1L, 30L), ("p1", 2L, 5L), ("p1", 3L, 20L),
      // p2: best score 10 tied between ids 5 and 6 -> chosen id 5;
      //     worst score 2 tied between ids 7 and 8 -> rejected id 7
      ("p2", 5L, 10L), ("p2", 6L, 10L), ("p2", 7L, 2L), ("p2", 8L, 2L),
      // p3: all equal -> gap 0, dropped
      ("p3", 9L, 4L), ("p3", 10L, 4L),
      // p4: single completion -> gap 0, dropped
      ("p4", 11L, 99L))
      .toDF("prompt", "cid", "score")
    val out = Curation.preferencePairsFromScores(df, "prompt", "cid", "score", minGap = 1L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out == Map(
      "p1" -> ((1L, 2L, 30L, 5L, 25L)),
      "p2" -> ((5L, 7L, 10L, 2L, 8L))), s"got $out")
    // raising the gap bar prunes the narrow pair
    val strict = Curation.preferencePairsFromScores(df, "prompt", "cid", "score", minGap = 10L)
      .collect().map(_.getString(0)).toSet
    assert(strict == Set("p1"))
  }

  test("packEfficiency: fill/waste accounting, overfull bin reports negative waste") {
    import SparkTestBase.spark.implicits._
    val packed = Seq(
      (0L, 0L, 6L), (0L, 0L, 3L), // bin (0,0): used 9 of 10
      (0L, 1L, 10L),              // bin (0,1): exactly full
      (1L, 0L, 14L))              // bin (1,0): one oversized item
      .toDF("pack_group", "bin_idx", "n_tokens")
    val out = Curation.packEfficiency(packed, Seq("pack_group", "bin_idx"),
      "n_tokens", budget = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out == Map(
      (0L, 0L) -> ((2L, 9L, 1L, 900L)),
      (0L, 1L) -> ((1L, 10L, 0L, 1000L)),
      (1L, 0L) -> ((1L, 14L, -4L, 1400L))), s"got $out")
  }

  test("insertCanaries: deterministic selection/splice, unselected text verbatim, recall closes the loop") {
    import SparkTestBase.spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"alpha  beta\tgamma delta doc$i")).toDF("doc_id", "text")
    val ins = Curation.insertCanaries(docs, "text", "doc_id", ratePermille = 500)
    val rows = ins.collect().map(r => r.getLong(0) ->
      (r.getString(1), r.getBoolean(2), Option(r.getString(3)))).toMap
    val planted = rows.filter(_._2._2)
    assert(planted.nonEmpty && planted.size < 40, s"rate 500 plants a strict subset: ${planted.size}")
    planted.foreach { case (id, (text, _, canary)) =>
      assert(canary.exists(c => c.startsWith("GRAFT-CANARY-") && text.split("\\s+").contains(c)),
        s"doc $id must carry its canary as one whitespace token: $text")
      assert(text.split("\\s+").count(_.startsWith("GRAFT-CANARY-")) == 1)
    }
    // unselected text passes through byte-identical (tabs/double spaces kept)
    rows.filterNot(_._2._2).foreach { case (id, (text, _, canary)) =>
      assert(text == s"alpha  beta\tgamma delta doc$id" && canary.isEmpty)
    }
    // deterministic: a rerun replants the identical canaries
    assert(Curation.insertCanaries(docs, "text", "doc_id", 500)
      .collect().map(_.toSeq).sortBy(_.head.toString).toSeq ==
      ins.collect().map(_.toSeq).sortBy(_.head.toString).toSeq)
    // empty doc: the canary IS the text
    val empty = Curation.insertCanaries(Seq((7L, "")).toDF("doc_id", "text"),
      "text", "doc_id", 1000).collect().head
    assert(empty.getString(1) == empty.getString(3))
    // recall over a slice of the canaried corpus finds exactly the slice's canaries
    val outputs = ins.filter(col("doc_id") % 2 === 0).select(col("text_out").as("gen"))
    val rec = Curation.canaryRecall(outputs, "gen",
      ins.filter(col("has_canary")), "canary")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rec.keySet == planted.values.flatMap(_._3).toSet)
    planted.foreach { case (id, (_, _, Some(c))) =>
      assert(rec(c) == (if (id % 2 == 0) (1L, true) else (0L, false)),
        s"doc $id canary $c: ${rec(c)}")
    case _ => ()
    }
  }

  test("assembleDialogs: turns sort by the order column regardless of input order") {
    import SparkTestBase.spark.implicits._
    val events = Seq(
      (7L, 30L, "user", "third"), (7L, 10L, "user", "first"),
      (7L, 20L, "assistant", "second"), (8L, 5L, "user", "solo"))
      .toDF("k", "ord", "role", "content")
      .repartition(4) // scramble physical order; assembly must not care
    val out = Curation.assembleDialogs(events, "k", "ord", "role", "content")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(m => (m.getString(0), m.getString(1)))).toMap
    assert(out(7L) == Seq(("user", "first"), ("assistant", "second"), ("user", "third")))
    assert(out(8L) == Seq(("user", "solo")))
  }

  test("packDialog: greedy first-fit by tokens, turns never split, oversized turn owns its chunk") {
    import SparkTestBase.spark.implicits._
    // token counts 3,2,4,6,1 at budget 5 -> chunks 0,0,1,2,3
    val dialogs = Seq(
      (1L, Seq(("user", "a b c"), ("assistant", "d e"), ("user", "f g h i"),
        ("assistant", "j k l m n o"), ("user", "p"))))
      .toDF("id", "raw")
      .select(col("id"), transform(col("raw"), x =>
        struct(x.getField("_1").as("role"), x.getField("_2").as("content")))
        .as("msgs"))
    val out = Curation.packDialog(dialogs, "id", "msgs", tokenBudget = 5L)
      .orderBy("pos").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((0, 0L, 3L), (1, 0L, 2L), (2, 1L, 4L), (3, 2L, 6L), (4, 3L, 1L)))
  }

  test("redactDialog: per-turn PII masking preserves roles and turn order") {
    import SparkTestBase.spark.implicits._
    val dialogs = Seq(
      (1L, Seq(("user", "reach me at jo.doe@mail.org or 10.1.2.3"),
        ("assistant", "noted, clean reply"))))
      .toDF("id", "raw")
      .select(col("id"), transform(col("raw"), x =>
        struct(x.getField("_1").as("role"), x.getField("_2").as("content")))
        .as("msgs"))
    val out = dialogs.select(
        explode(Curation.redactDialog(col("msgs"))).as("m"))
      .select(col("m.role"), col("m.content")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(
      ("user", "reach me at <EMAIL> or <IP>"),
      ("assistant", "noted, clean reply")))
  }

  test("dialogAudit: turn structure, alternation, empties, special-token leaks") {
    import SparkTestBase.spark.implicits._
    val dialogs = Seq(
      // clean 3-turn dialog
      (1L, Seq(("user", "hi"), ("assistant", "hello"), ("user", "bye"))),
      // double assistant turn + empty content + template leak
      (2L, Seq(("user", "q"), ("assistant", "  "), ("assistant", "a <|im_end|>"))),
      // single turn
      (3L, Seq(("assistant", "orphan"))))
      .toDF("id", "raw")
      .select(col("id"), transform(col("raw"), x =>
        struct(x.getField("_1").as("role"), x.getField("_2").as("content")))
        .as("msgs"))
    val out = Curation.dialogAudit(dialogs, "id", "msgs").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(out(1L) == ((3L, "user", "user", 0L, 0L, 0L)))
    assert(out(2L) == ((3L, "user", "assistant", 1L, 1L, 1L)))
    assert(out(3L) == ((1L, "assistant", "assistant", 0L, 0L, 0L)))
  }
}
