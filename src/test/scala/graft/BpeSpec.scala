package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Bpe, TextAnalysis}

/** BPE learning/encoding semantics. No DuckDB oracle (iterative merging
  * is not SQL-expressible); gated by goldens against the published
  * construction (Sennrich et al. 2016 worked example) and algebraic
  * bounds on real corpus data.
  */
class BpeSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private val sennrich = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  test("learn reproduces the classic merge sequence with lexicographic tie-breaks") {
    // round 1: (e,s)=9 ties (s,t)=9 → lexicographic; then (es,t)=9;
    // then (l,o)=7 ties (o,w)=7 → lexicographic; then (lo,w)=7
    assert(Bpe.learn(sennrich, 4) ==
      Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    // early exhaustion: single-char vocab has no pairs
    assert(Bpe.learn(Seq("a" -> 10L, "b" -> 3L), 5) == Seq.empty)
  }

  test("encode applies merges by rank priority (classic lowest → low|est)") {
    val merges = Bpe.learn(sennrich, 4)
    val out = Seq((1L, "lowest lower newest"), (2L, ""))
      .toDF("id", "text")
      .select(col("id"), Bpe.encode(col("text"), merges).as("toks"),
        Bpe.tokenCount(col("text"), merges).as("n"))
      .orderBy("id").collect()
    assert(out(0).getSeq[String](1) ==
      Seq("low", "est", "low", "e", "r", "n", "e", "w", "est"))
    assert(out(0).getLong(2) == 9L)
    // empty text: one empty word, zero symbols
    assert(out(1).getSeq[String](1) == Seq.empty && out(1).getLong(2) == 0L)
  }

  test("frozen contract tokenizer is exactly the sf0.001 corpus learning result") {
    // provenance gate for EntrySupport.FrozenBpeMerges: the inlined merge
    // table IS learnFromCorpus on the full sf0.001 documents — if the
    // learner (tokenization, tie-breaks, merge order) ever changes, this
    // golden forces the frozen table and its oracle to be regenerated.
    val docs = SparkTestBase.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val learned = Bpe.learnFromCorpus(docs, "text", numMerges = 64)
    assert(learned == EntrySupport.FrozenBpeMerges)
  }

  test("ns_bpe contract query is a zero-shuffle scan (merge ranks ride the closure)") {
    val plan = SparkEntry.queries("ns_bpe")(SparkTestBase.spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encoding must not shuffle:\n$plan")
  }

  test("corpus-learned tokenizer: deterministic, token count bounded by words and chars") {
    val docs = SparkTestBase.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(200).cache()
    val m1 = Bpe.learnFromCorpus(docs, "text", numMerges = 50, vocabTopK = 500)
    val m2 = Bpe.learnFromCorpus(docs, "text", numMerges = 50, vocabTopK = 500)
    assert(m1 == m2, "learning is a pure function of the corpus")
    assert(m1.size == 50)
    val bounds = docs.select(
      Bpe.tokenCount(col("text"), m1).as("bpe"),
      TextAnalysis.wsTokenCount(col("text")).as("words"),
      length(regexp_replace(col("text"), "\\s", "")).cast("long").as("chars"))
      .collect()
    assert(bounds.forall(r => r.getLong(0) >= r.getLong(1)),
      "every word is at least one subword")
    assert(bounds.forall(r => r.getLong(0) <= r.getLong(2)),
      "subwords never exceed non-space characters")
    // more merges only shrink (or keep) the encoding
    val m100 = Bpe.learnFromCorpus(docs, "text", numMerges = 100, vocabTopK = 500)
    val shrunk = docs.select(Bpe.tokenCount(col("text"), m1).as("a"),
      Bpe.tokenCount(col("text"), m100).as("b")).collect()
    assert(shrunk.forall(r => r.getLong(1) <= r.getLong(0)))
    docs.unpersist()
  }

  test("fertilityByGroup: hand-checked bytes/tokens, empty docs count, zero-shuffle scan side") {
    // no merges: every character of every word is one token
    val df = Seq(
      ("en", "ab cd"),   // 4 tokens, 5 bytes
      ("en", "xyz"),     // 3 tokens, 3 bytes
      ("de", ""),        // 0 tokens, 0 bytes — still a doc
      ("de", "qq")       // 2 tokens, 2 bytes
    ).toDF("lang", "text")
    val out = Bpe.fertilityByGroup(df, "text", "lang", merges = Seq.empty)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("en") == (2L, 7L, 8L, (8L * 1000) / 7L))
    assert(out("de") == (2L, 2L, 2L, 1000L))
    // a merge halves the all-same-pair word's token count
    val merged = Bpe.fertilityByGroup(
      Seq(("x", "abab")).toDF("lang", "text"), "text", "lang",
      merges = Seq("a" -> "b"))
      .collect().head
    assert(merged.getLong(2) == 2L, "ab+ab after one merge")
  }
}
