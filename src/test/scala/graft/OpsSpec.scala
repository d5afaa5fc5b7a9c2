package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Self-validating tests for the training-data operators whose semantics
  * have no SQL oracle (LSH recall, fingerprint robustness, stub decode).
  */
class OpsSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("exact dedup finds injected duplicates") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs, "text", "doc_id").orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH recalls true near-duplicates and skips dissimilar pairs") {
    // near-dups: same long text with one token changed; plus unrelated docs
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok30", "tokX")
    val unrelated = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated), (4L, base + " extra"))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id", shingleLen = 3,
      numHashes = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)), "near-dup pair must be a candidate")
    assert(cands.contains((1L, 4L)), "prefix-extended dup must be a candidate")
    assert(!cands.contains((1L, 3L)), "unrelated pair must not collide")
  }

  test("minhash est_jaccard approximates exact shingle jaccard") {
    val base = (1 to 100).map(i => s"w$i").mkString(" ")
    val mod = base.replace("w50", "wX") // ~3 of 98 shingles differ
    val docs = Seq((1L, base), (2L, mod)).toDF("doc_id", "text")
    val est = Dedup.minhashCandidates(docs, "text", "doc_id")
      .collect().head.getAs[Double]("est_jaccard")
    val exact = Dedup.ngramJaccard(Seq((1L, 2L)).toDF("idA", "idB"), docs, "text", "doc_id", n = 3)
      .collect().head
    val trueJ = exact.getAs[Int]("n_common").toDouble / exact.getAs[Int]("n_union")
    assert(math.abs(est - trueJ) < 0.2, s"est=$est true=$trueJ")
  }

  test("jaccardJoin completeness law: prefix-filtered output equals brute force") {
    // deterministic docs over a small vocab so overlaps span the whole
    // similarity range; includes duplicates and a short (<n tokens) doc
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val rows = (0 until 60).map { i =>
      val h = i * 2654435761L
      val len = 3 + (math.abs(h) % 10).toInt
      val s = (0 until len).map(j => vocab(((h >> (j % 5)) & 7).toInt)).mkString(" ")
      (i.toLong, if (i % 13 == 0) "tiny" else s)
    } :+ (60L, "alpha beta gamma delta eps zeta") :+ (61L, "alpha beta gamma delta eps zeta")
    val df = rows.toDF("id", "text")
    for (tp <- Seq(300, 500, 800, 1000)) {
      val got = Dedup.jaccardJoin(df, "text", "id", minJaccardPermille = tp, shingleLen = 2)
        .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ids = df.select(col("id").as("idA"))
      val brute = Dedup.ngramJaccard(
        ids.crossJoin(df.select(col("id").as("idB"))).where(col("idA") < col("idB")),
        df, "text", "id", n = 2)
        .where(col("n_common").cast("long") * 1000 >= lit(tp.toLong) * col("n_union"))
        .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute, s"tp=$tp")
    }
    // the injected exact duplicate must always surface, even at t=1.0
    val dup = Dedup.jaccardJoin(df, "text", "id", minJaccardPermille = 1000, shingleLen = 2)
      .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dup.contains((60L, 61L)))
  }

  test("clusterStats: histogram with dup mass; all-singletons degenerate case") {
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L))
      .toDF("id", "cluster_id")
    val out = Dedup.clusterStats(asg).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(3L -> (1L, 3L, 2L), 2L -> (1L, 2L, 1L), 1L -> (1L, 1L, 0L)))
    val singles = Seq((1L, 1L), (2L, 2L)).toDF("id", "cluster_id")
    val s = Dedup.clusterStats(singles).collect()
    assert(s.length == 1 && s.head.getLong(0) == 1L && s.head.getLong(3) == 0L)
  }

  test("integrityAudit: orphans with counts, null keys reported, valid fks silent") {
    val parent = Seq(1L, 2L, 3L).toDF("pid")
    val child = Seq(Some(1L), Some(1L), Some(9L), Some(9L), Some(9L), None)
      .toDF("fk")
    val out = graft.ops.Tables.integrityAudit(child, "fk", parent, "pid")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(out == Map(Some("9") -> 3L, None -> 1L))
    val clean = Seq(1L, 2L).toDF("fk")
    assert(graft.ops.Tables.integrityAudit(clean, "fk", parent, "pid").isEmpty)
  }

  test("expectationReport: per-rule violation accounting, null discipline, one scan") {
    import graft.ops.Expectation._
    val df = Seq(
      (1L, Some("alpha"), Some(10L), Some("en")),
      (2L, Some("alpha"), Some(10L), Some("en")), // text dup is fine, id unique
      (2L, None, Some(-5L), Some("deu")), // null text; range + pattern violations
      (3L, Some("x"), None, Some("fr")))
      .toDF("id", "text", "score", "lang")
    val out = graft.ops.Tables.expectationReport(df, Seq(
      NotNull("text"), Unique("id"), Between("score", 0L, 100L),
      LengthBetween("text", 2L, 10L), Matches("lang", "^[a-z]{2}$"),
      InSet("lang", Seq("en", "fr"))))
      .collect().map(r => r.getString(0) -> r).toMap
    def v(rule: String) = out(rule).getLong(out(rule).fieldIndex("n_violations"))
    assert(v("not_null") == 1L) // the null text row, once
    assert(v("unique") == 1L) // id 2 appears twice -> one extra occurrence
    assert(v("between") == 1L) // -5; the NULL score is NOT a range violation
    assert(v("length_between") == 1L) // "x"; null text skipped here
    assert(v("matches") == 1L) // "deu"
    assert(v("in_set") == 1L) // "deu" again under set semantics
    assert(out("not_null").getLong(out("not_null").fieldIndex("n_rows")) == 4L)
    assert(!out("unique").getBoolean(out("unique").fieldIndex("passed")))
    assert(out("matches").getLong(out("matches").fieldIndex("violation_permille")) == 250L)
    // one scan: job count must NOT grow with the rule count (AQE stage
    // jobs make the absolute number config-shaped; the invariant is that
    // rules fuse into the one aggregate pass)
    val jobs2 = SparkTestBase.countJobs {
      graft.ops.Tables.expectationReport(df, Seq(NotNull("text"), Unique("id")))
        .collect()
    }
    val jobs6 = SparkTestBase.countJobs {
      graft.ops.Tables.expectationReport(df, Seq(
        NotNull("text"), Unique("id"), Between("score", 0L, 100L),
        LengthBetween("text", 2L, 10L), Matches("lang", "^[a-z]{2}$"),
        InSet("lang", Seq("en", "fr")))).collect()
    }
    assert(jobs6 <= jobs2,
      s"rules must fuse into one aggregate pass: 2 rules -> $jobs2 jobs, 6 rules -> $jobs6")
  }

  test("expectationReport: UniqueApprox sketch law + no Expand in the plan") {
    import graft.ops.Expectation._
    // 5000 non-null rows, 4000 distinct keys -> exactly 1000 duplicates
    val df = (1 to 5000).map(i => (i.toLong % 4000L, s"t$i")).toDF("k", "text")
    val row = graft.ops.Tables.expectationReport(df, Seq(UniqueApprox("k", 0.05)))
      .collect().head
    val v = row.getLong(row.fieldIndex("n_violations"))
    // law: the sketch estimate stays within ~3·rsd of the true distinct
    // count, so violations land within 3·0.05·4000 = 600 of the exact 1000
    assert(math.abs(v - 1000L) <= 600L, s"sketch violations drifted: $v")
    // plan shape: two exact Unique rules rewrite through an Expand that
    // replicates the scan per distinct group; the sketch tier must not
    val planApprox = graft.ops.Tables.expectationReport(df,
      Seq(UniqueApprox("k"), UniqueApprox("text")))
      .queryExecution.optimizedPlan.toString
    assert(!planApprox.contains("Expand"),
      s"HLL tier must not Expand:\n${planApprox.take(1500)}")
    val planExact = graft.ops.Tables.expectationReport(df,
      Seq(Unique("k"), Unique("text")))
      .queryExecution.optimizedPlan.toString
    assert(planExact.contains("Expand"),
      s"expected the exact multi-distinct Expand as the contrast case:\n${planExact.take(1500)}")
  }

  test("expectationReport: empty table fails closed (NULL rate, passed=false)") {
    import graft.ops.Expectation._
    val empty = Seq.empty[(Long, Option[String])].toDF("id", "text")
    val out = graft.ops.Tables.expectationReport(empty,
      Seq(NotNull("text"), Unique("id"))).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_rows")) == 0L)
      assert(r.getLong(r.fieldIndex("n_violations")) == 0L)
      // NULL, not 0: a zero-row snapshot must not read as all-clear
      assert(r.isNullAt(r.fieldIndex("violation_permille")))
      assert(!r.getBoolean(r.fieldIndex("passed")))
    }
  }

  test("applyChangelog: insert/update/delete/passthrough, latest-wins, ties, idempotency") {
    val snap = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("id", "s", "n")
    val changes = Seq(
      (2L, "upsert", 1L, "b1", 21L), // update chain: v1 then v2 — v2 wins
      (2L, "upsert", 2L, "b2", 22L),
      (3L, "delete", 5L, null, 0L), // delete beats earlier upsert
      (3L, "upsert", 4L, "c4", 34L),
      (4L, "delete", 7L, null, 0L), // same-version tie: upsert wins
      (4L, "upsert", 7L, "d7", 47L),
      (9L, "upsert", 1L, "new", 90L), // insert
      (8L, "delete", 1L, null, 0L) // delete of a missing key: no-op
    ).toDF("id", "op", "version", "s", "n")
    val out = graft.ops.Tables.applyChangelog(snap, changes, "id")
    val got = out.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ("a", 10L), // passthrough
      2L -> ("b2", 22L),
      4L -> ("d7", 47L),
      9L -> ("new", 90L)))
    // idempotent: re-applying the same log to the merged result is a no-op
    val twice = graft.ops.Tables.applyChangelog(out, changes, "id")
    assert(twice.exceptAll(out).isEmpty && out.exceptAll(twice).isEmpty)
    // unknown ops fail the stage loudly instead of merging as garbage
    val bad = Seq((1L, "merge", 1L, "x", 0L)).toDF("id", "op", "version", "s", "n")
    val ex = intercept[Exception] {
      graft.ops.Tables.applyChangelog(snap, bad, "id").count()
    }
    assert(ex.getMessage.contains("unknown op") || ex.getCause != null)
  }

  test("containmentJoin completeness law: prefix-filtered output equals brute force") {
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val rows = (0 until 50).map { i =>
      val h = i * 2654435761L
      val len = 3 + (math.abs(h) % 10).toInt
      (i.toLong, (0 until len).map(j => vocab(((h >> (j % 5)) & 7).toInt)).mkString(" "))
    } :+ (50L, "alpha beta gamma") :+
      (51L, "intro words alpha beta gamma delta eps zeta eta theta closing words")
    val df = rows.toDF("id", "text")
    for (tp <- Seq(500, 700, 1000)) {
      val got = Dedup.containmentJoin(df, "text", "id", minContainPermille = tp, shingleLen = 2)
        .select("idSub", "idSup").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ids = df.select(col("id").as("idSub"))
      // brute force: every ordered pair, exact containment over 2-gram sets
      val pairs = ids.crossJoin(df.select(col("id").as("idSup"))).where(col("idSub") =!= col("idSup"))
      val sets = df.select(col("id"),
        graft.functions.text.wordNgrams(col("text"), 2, distinct = true).as("g"))
      val brute = pairs
        .join(sets.select(col("id").as("idSub"), col("g").as("ga")), "idSub")
        .join(sets.select(col("id").as("idSup"), col("g").as("gb")), "idSup")
        .where(size(array_intersect(col("ga"), col("gb"))).cast("long") * 1000 >=
          lit(tp.toLong) * size(col("ga")).cast("long"))
        .select("idSub", "idSup").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute, s"tp=$tp")
    }
  }

  test("containmentJoin is directional: short-in-long fires sub->sup only") {
    val df = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "prologue text here the quick brown fox jumps and much more epilogue text tail"),
      (3L, "unrelated content entirely different words")
    ).toDF("id", "text")
    val out = Dedup.containmentJoin(df, "text", "id", minContainPermille = 900, shingleLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)), s"short doc contained in long must fire: $out")
    assert(!out.contains((2L, 1L)), s"long doc is NOT contained in short: $out")
    // symmetric Jaccard at the same bar misses the pair entirely
    val sym = Dedup.jaccardJoin(df, "text", "id", minJaccardPermille = 900, shingleLen = 2)
      .collect()
    assert(sym.isEmpty, "J(1,2) is far below 0.9 — the containment-only shape")
  }

  test("auditRecall: perfect generator scores 1000, empty scores 0, orientation-free") {
    val df = (0 until 40).map { i =>
      val base = s"w${i % 8} w${(i + 1) % 8} w${(i + 2) % 8} w${(i + 3) % 8}"
      (i.toLong, base)
    }.toDF("id", "text")
    // ground truth among ALL docs at 60% unigram jaccard (sample 1000permille)
    val truth = Dedup.jaccardJoin(df, "text", "id", 600, shingleLen = 1)
      .select("idA", "idB")
    val n = truth.count()
    assert(n > 0, "test corpus must contain true pairs")
    val perfect = Dedup.auditRecall(truth, df, "text", "id", 600,
      samplePermille = 1000, shingleLen = 1).collect().head
    assert(perfect.getLong(0) == n && perfect.getLong(1) == n && perfect.getLong(2) == 1000L)
    // reversed-orientation candidates audit identically
    val reversed = truth.select(col("idB").as("idA"), col("idA").as("idB"))
    val rev = Dedup.auditRecall(reversed, df, "text", "id", 600,
      samplePermille = 1000, shingleLen = 1).collect().head
    assert(rev.getLong(2) == 1000L)
    // a generator that only returns half the truth scores proportionally
    val half = truth.where(col("idA") % 2 === 0)
    val h = Dedup.auditRecall(half, df, "text", "id", 600,
      samplePermille = 1000, shingleLen = 1).collect().head
    assert(h.getLong(1) == half.count() && h.getLong(2) < 1000L)
    // sampling restricts the truth universe to sampled docs only
    val s = Dedup.auditRecall(truth, df, "text", "id", 600,
      samplePermille = 400, shingleLen = 1).collect().head
    assert(s.getLong(0) <= n && s.getLong(2) == 1000L)
  }

  test("jaccardJoin maxBucket guard yields a subset; output carries exact counts") {
    val df = (0 until 30).map(i => (i.toLong, s"common words everywhere plus w$i w${i % 3}"))
      .toDF("id", "text")
    val full = Dedup.jaccardJoin(df, "text", "id", 400, shingleLen = 2)
    val fullPairs = full.select("idA", "idB").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.jaccardJoin(df, "text", "id", 400, shingleLen = 2, maxBucket = 4)
      .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded.subsetOf(fullPairs))
    // n_common/n_union are the exact intersection sizes
    val r = full.where(col("idA") === 0 && col("idB") === 3).collect()
    if (r.nonEmpty) {
      val exact = Dedup.ngramJaccard(Seq((0L, 3L)).toDF("idA", "idB"), df, "text", "id", n = 2)
        .collect().head
      assert(r.head.getAs[Int]("n_common") == exact.getAs[Int]("n_common"))
      assert(r.head.getAs[Int]("n_union") == exact.getAs[Int]("n_union"))
    }
  }

  test("lshPlan: MMDS tuning rule picks the divisor banding nearest the target") {
    // 128 hashes, target 0.8: divisor thresholds are (1/8)^(1/16)=.878 and
    // (1/16)^(1/8)=.707 — .878 is nearer, so 8 bands of 16 rows
    assert(Dedup.lshPlan(128, 0.8) == Dedup.LshPlan(8, 16))
    // 64 hashes, target 0.5: (1/16)^(1/4)=.5 exactly
    assert(Dedup.lshPlan(64, 0.5) == Dedup.LshPlan(16, 4))
    val p = Dedup.lshPlan(64, 0.5)
    // S-curve laws: monotone in s, complete at s=1, dead at s=0
    assert(p.candidateProb(0.0) == 0.0 && p.candidateProb(1.0) == 1.0)
    val probs = (0 to 10).map(i => p.candidateProb(i / 10.0))
    assert(probs == probs.sorted)
    // midpoint sits on the steep part: clearly separates +-0.2
    assert(p.candidateProb(p.threshold + 0.2) > 0.9)
    assert(p.candidateProb(p.threshold - 0.2) < 0.35)
    // degenerate corners still legal
    assert(Dedup.lshPlan(1, 0.5) == Dedup.LshPlan(1, 1))
  }

  test("simhash: identical docs → distance 0; near-dups close; unrelated far") {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, base.replace("tok40", "tokX")),
      (4L, (1 to 80).map(i => s"qqq$i").mkString(" ")))
      .toDF("doc_id", "text")
    val fp = Dedup.simhash(docs, "text", "doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) < 16)
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(4L)) > 16)
    val cands = Dedup.simhashCandidates(docs, "text", "doc_id", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }

  test("indexStats: histogram mass reconciles to entries; skew shows as a giant bucket") {
    // buckets: k1 x3, k2 x1, k3 x1 -> histogram {3: 1 bucket, 1: 2 buckets}
    val entries = Seq(("k1", 1L), ("k1", 2L), ("k1", 3L), ("k2", 4L), ("k3", 5L))
      .toDF("key", "corpus_id")
    val got = Dedup.indexStats(entries, Seq("key"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(3L -> ((1L, 3L)), 1L -> ((2L, 2L))), s"got $got")
    assert(got.values.map(_._2).sum == 5L, "n_entries sums to the index size")
    // a real index round-trips: minhashIndex entries keyed (band, bucket)
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "unrelated totally different words here")).toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(docs, "text", "doc_id")
    val hist = Dedup.indexStats(idx.entries, Seq("band", "bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hist.getOrElse(2L, 0L) == 16L,
      s"the identical pair shares all 16 band buckets: $hist")
  }

  test("incrementalEmbedCandidates: exhaustive probes equal all-pairs; approx settings recall a planted twin") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val idx = Dedup.embedIndex(e.filter(col("vec_id") < 150), "embedding", "vec_id")
    val exhaustive = Dedup.incrementalEmbedCandidates(
      e.filter(col("vec_id") >= 150), idx, "embedding", "vec_id",
      minCosPermille = 300L, probes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted twin: a batch row whose vector IS an index vector must be
    // found even at probes = 1 (identical vectors share every bucket)
    val twin = e.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val found = Dedup.incrementalEmbedCandidates(twin, idx, "embedding",
      "vec_id", minCosPermille = 999L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // self-cosine floors to 999 when the squared norm is not a perfect
    // square (sqrt(n)² > n in IEEE): the documented fixed-order tail,
    // identical in the DuckDB oracle
    assert(found.length == 1 && found.head._1 == 10007L &&
      found.head._2 == 7L && found.head._3 >= 999L,
      s"identical vector must collide in its own buckets and score ~1000; got ${found.toSeq}")
    // approx probes find a subset of exhaustive (no false positives)
    val approx = Dedup.incrementalEmbedCandidates(
      e.filter(col("vec_id") >= 150), idx, "embedding", "vec_id",
      minCosPermille = 300L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(exhaustive), "LSH collision can only shrink the candidate set")
  }

  test("hardNegatives: labels filter, null labels are everyone's negative, planted boundary pair") {
    // planted geometry: q (1,0,'a'); same-label near twin must NOT appear;
    // different-label near twin is the #1 hard negative; far opposite-label last
    val rows = Seq(
      (0L, Array(1.0, 0.0), "a"),
      (1L, Array(0.999, 0.01), "a"), // same label: excluded
      (2L, Array(0.99, 0.1), "b"), // the hard negative
      (3L, Array(0.0, 1.0), "b"),
      (4L, Array(0.5, 0.5), null: String)) // null label: valid negative
    val df = rows.toDF("id", "vec", "label")
    val got = Similarity.hardNegatives(df.filter(col("id") === 0L), df, k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3).toLong))
    assert(got.toSeq == Seq((2L, 1L), (4L, 2L), (3L, 3L)),
      s"rank order must follow cosine among different-label rows only; got ${got.toSeq}")
    // null-labeled query: every labeled row is a negative
    val gotNull = Similarity.hardNegatives(df.filter(col("id") === 4L), df, k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(gotNull == Set(0L, 1L, 2L, 3L), "null query label never equals any label")
  }

  test("LSH ANN achieves reasonable top-1 recall vs brute force on real embeddings") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val q = e.filter(col("id") < 30)
    val exact = Similarity.bruteForceTopK(q, e, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = Similarity.lshTopK(q, e, k = 1, planes = 4, tables = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (qid, nid) => approx.get(qid).contains(nid) }
    assert(hits >= exact.size / 3, s"top-1 recall too low: $hits/${exact.size}")
    // every approx result must be a real corpus member, ranked deterministically
    assert(approx.keys.forall(_ < 30))
  }

  test("IVF ANN: reasonable top-1 recall, probing more cells increases recall") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val q = e.filter(col("id") < 30)
    val exact = Similarity.bruteForceTopK(q, e, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recall(nprobe: Int): Int = {
      val approx = Similarity.ivfTopK(q, e, k = 1, nCentroids = 8, nprobe = nprobe)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.count { case (qid, nid) => approx.get(qid).contains(nid) }
    }
    val r2 = recall(2)
    val r8 = recall(8) // all cells probed = exhaustive = perfect recall
    assert(r8 == exact.size, s"nprobe=all must equal brute force, got $r8/${exact.size}")
    assert(r2 >= exact.size / 3, s"nprobe=2 recall too low: $r2/${exact.size}")
  }

  test("embedding-cosine near-dup: finds injected duplicate vectors, skips dissimilar") {
    val rng = new scala.util.Random(7)
    val base = Array.fill(32)(rng.nextGaussian())
    val nearDup = base.map(_ * 1.001 + 0.001)
    val other = Array.fill(32)(rng.nextGaussian())
    val docs = Seq((1L, base.toSeq), (2L, nearDup.toSeq), (3L, other.toSeq))
      .toDF("id", "vec")
    val pairs = Dedup.embeddingCandidates(docs, "vec", "id", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "near-identical vectors must pair")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("winnowing fingerprint: stable under identity, mostly stable under small edit") {
    val text = ("the quick brown fox jumps over the lazy dog " * 10).trim
    val docs = Seq((1L, text), (2L, text), (3L, text.replace("lazy", "hazy")))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L) == fps(2L))
    val overlap = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).union(fps(3L)).size
    assert(overlap > 0.5, s"small edit should preserve most fingerprints, got $overlap")
    assert(fps(1L) != fps(3L))
  }

  test("fingerprint candidates find shared-substring pairs, skip disjoint docs") {
    val shared = "a long shared passage that repeats across documents verbatim"
    val docs = Seq(
      (1L, s"unique prefix one $shared unique suffix one"),
      (2L, s"totally different opening $shared and a different close"),
      (3L, "no overlap here at all with anything else whatsoever zz")
    ).toDF("doc_id", "text")
    val pairs = Dedup.fingerprintCandidates(docs, "text", "doc_id", minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 3),
      s"docs sharing a ${shared.length}-char passage must pair: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L), "disjoint doc must not pair")
    // winnowing guarantee: a shared run longer than k+w-1 selects >=1
    // common fingerprint — n_shared grows with the shared-run length
    val n12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(n12 >= shared.length / 8 / 2, s"long shared run selects many fingerprints: $n12")
  }

  test("fingerprint candidates skew guard bounds pairs from ubiquitous k-grams") {
    val boiler = "common boilerplate everywhere"
    val docs = (1 to 200).map(i => (i.toLong, s"doc $i begins $boiler and ends $i"))
      .toDF("doc_id", "text")
    val capped = Dedup.fingerprintCandidates(docs, "text", "doc_id",
      minShared = 1, maxBucket = 20)
    // every fingerprint of the boilerplate run appears in 200 docs — the
    // guard drops those buckets, bounding the pair explosion
    val n = capped.count()
    val unguarded = 200L * 199 / 2
    assert(n < unguarded / 10, s"guard must bound pair count, got $n of $unguarded")
  }

  test("language id picks the marker-dominant language with deterministic tie-break") {
    val docs = Seq(
      (1L, "the cat and the dog is with that"),
      (2L, "der hund und die katze ist nicht mit"),
      (3L, "el perro que la casa es con los"),
      (4L, "xyzzy plugh")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "und"))
  }

  test("readability: hand-computed Flesch/FK milli-points, empty-text guards") {
    // "The cat sat. It ran off!" lowered: words = [the cat sat it ran off]
    // = 6; sentences = [. !] runs = 2; vowel runs: the(1) cat(1) sat(1)
    // it(1) ran(1) off(1) = 6
    // flesch = 206835 - 1015*6/2 - 84600*6/6 = 206835 - 3045 - 84600 = 119190
    // fk = 390*6/2 + 11800*6/6 - 15590 = 1170 + 11800 - 15590 = -2620
    val docs = Seq((1L, "The cat sat. It ran off!"), (2L, ""), (3L, "?!?"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.readability(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_words"), col("r.n_sentences"),
        col("r.n_syllables"), col("r.flesch_milli"), col("r.fk_grade_milli"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(out(1L) == Seq(6L, 2L, 6L, 119190L, -2620L))
    // empty text: zero counts, guarded divisors -> flesch 206835, fk -15590
    assert(out(2L) == Seq(0L, 0L, 0L, 206835L, -15590L))
    // punctuation-only: one sentence run, zero words/syllables
    assert(out(3L) == Seq(0L, 1L, 0L, 206835L, -15590L))
  }

  test("sentences: terminator runs close sentences, abbreviation split documented, empties drop") {
    val docs = Seq(
      (1L, "Hi there! Dr. Smith went... End"),
      (2L, "no terminator at all"),
      (3L, "!!!"),
      (4L, "")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.sentences(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // "Dr." splits — the documented lexicon-free trade; "..." stays with
    // its sentence as one terminator run
    assert(out(1L) == Seq("Hi there!", "Dr.", "Smith went...", "End"))
    assert(out(2L) == Seq("no terminator at all"))
    // terminator-only text has no non-terminator run to anchor a segment
    assert(out(3L).isEmpty, s"punctuation-only yields nothing: ${out(3L)}")
    assert(out(4L).isEmpty)
  }

  test("lexicalDiversity: TTR and hapax by hand, case-folding, empty text") {
    // "The cat the dog cat bird" -> 6 tokens, types {the,cat,dog,bird}=4,
    // hapax {dog,bird}=2 -> ttr 666, hapax 333
    val docs = Seq((1L, "The cat the dog cat bird"), (2L, ""), (3L, "x x x"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.lexicalDiversity(col("text")).as("d"))
      .select(col("doc_id"), col("d.n_tokens"), col("d.n_types"),
        col("d.ttr_permille"), col("d.hapax_permille"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(out(1L) == Seq(6L, 4L, 666L, 333L))
    assert(out(2L) == Seq(0L, 0L, 0L, 0L))
    assert(out(3L) == Seq(3L, 1L, 333L, 0L))
  }

  test("codeSignals: fences, statement lines, indentation, camelCase counted per doc") {
    val code = "def fooBar() {\n    val x = 1;\n    return x;\n}\nplain prose line"
    val prose = "Just a sentence. And another one here."
    val fenced = "intro\n```\nlet y = 2;\n```\ntail"
    val docs = Seq((1L, code), (2L, prose), (3L, fenced), (4L, ""))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.codeSignals(col("text")).as("c"))
      .select(col("doc_id"), col("c.n_lines"), col("c.fenced_blocks"),
        col("c.semi_brace_lines"), col("c.indented_lines"),
        col("c.camel_idents"), col("c.semi_brace_permille"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    // code: 5 lines; lines 1,2,3,4 end in {/;/;/} = 4; two 4-space indents;
    // one camelCase ident (fooBar); permille = 4000/5 = 800
    assert(out(1L) == Seq(5L, 0L, 4L, 2L, 1L, 800L))
    // prose: nothing fires
    assert(out(2L) == Seq(1L, 0L, 0L, 0L, 0L, 0L))
    // fenced: one block, the statement inside still counts as a ;-line
    assert(out(3L) == Seq(5L, 1L, 1L, 0L, 0L, 200L))
    assert(out(4L) == Seq(0L, 0L, 0L, 0L, 0L, 0L))
  }

  test("connected components: transitive chains collapse, isolated docs self-label") {
    // chain 1-2-3-4 (diameter 3) + pair 10-11 + isolated 99
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("idA", "idB")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val assigned = Dedup.clusterAssignments(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(99L) == 99L && assigned(4L) == 1L && assigned(11L) == 10L)
    // empty pair graph: everyone keeps themselves
    val none = Dedup.clusterAssignments(docs, "doc_id",
      Seq.empty[(Long, Long)].toDF("idA", "idB"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(none.forall { case (id, c) => id == c })
  }

  test("star contraction equals label propagation on random-ish graphs") {
    // mixed topology: chain, star, triangle-with-tail, pair, shuffled ids
    val pairs = Seq((7L, 3L), (3L, 9L), (9L, 12L), (12L, 1L), // chain w/ min inside
      (20L, 21L), (20L, 22L), (20L, 23L), // star
      (30L, 31L), (31L, 32L), (32L, 30L), (32L, 33L), // triangle + tail
      (40L, 41L), (50L, 50L) // pair + self-loop
    ).toDF("idA", "idB")
    val star = Dedup.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val label = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == label)
    assert(star(7L) == 1L && star(23L) == 20L && star(33L) == 30L && star(50L) == 50L)
  }

  test("star contraction converges in ~log n rounds on a deep chain") {
    // a 256-node chain has diameter 255: label propagation would need ~255
    // rounds, star contraction must land in O(log n) ≈ 8-ish (each round
    // at least halves every node's hop distance to the component minimum)
    val chain = (0L until 255L).map(i => (i, i + 1)).toDF("idA", "idB")
    val (labels, rounds) = Dedup.connectedComponentsStarWithRounds(chain, maxIter = 30)
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == 256 && m.values.forall(_ == 0L))
    assert(rounds <= 12, s"expected ~log n rounds on a 256-chain, got $rounds")
    labels.unpersist()
  }

  test("clusterAssignments falls back to star contraction on deep chains") {
    // diameter 63 exceeds the label-propagation round cap (8); the hybrid
    // must silently switch to star contraction and still label everything
    // with the chain minimum
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("idA", "idB")
    val docs = (0L to 63L).toDF("doc_id")
    val assigned = Dedup.clusterAssignments(docs, "doc_id", chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned.size == 64 && assigned.values.forall(_ == 0L))
  }

  test("portable hash family matches the SQL definition (md5 goldens)") {
    import graft.functions.text.PortableHash
    import org.apache.spark.unsafe.types.UTF8String
    // goldens computed independently: ('0x'||substr(md5(s),1,8))::UBIGINT
    // & 2147483647 and the first-16-hex signed-64 view
    assert(PortableHash.h31(UTF8String.fromString("hello")) == 1564557354L)
    assert(PortableHash.h64(UTF8String.fromString("hello")) == 6719722671305337462L)
    assert(PortableHash.h31(UTF8String.fromString("")) == 1411222745L)
    assert(PortableHash.h64(UTF8String.fromString("")) == -3162216497309240828L)
    // affine perms stay in [0, P)
    (0 until 64).foreach { j =>
      val v = PortableHash.perm(j, 2147483646L)
      assert(v >= 0 && v < PortableHash.P)
    }
  }

  test("portable minhash/simhash modes keep the candidate semantics of the default family") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base.replace("tok30", "tokX")),
      (3L, (1 to 60).map(i => s"zzz$i").mkString(" "))).toDF("doc_id", "text")
    val mh = Dedup.minhashCandidates(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.contains((1L, 2L)) && !mh.contains((1L, 3L)))
    val sh = Dedup.simhashCandidates(docs, "text", "doc_id", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.contains((1L, 2L)))
    // identical docs fingerprint identically
    val both = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val fpP = Dedup.simhash(both, "text", "doc_id")
      .collect().map(_.getLong(1)).distinct
    assert(fpP.length == 1)
  }

  test("multi-probe LSH: probes=2^planes is exhaustive (equals brute force); recall monotone") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val q = e.filter(col("id") < 20)
    val exact = Similarity.bruteForceTopK(q, e, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exhaustive = Similarity.lshTopK(q, e, k = 3, planes = 4, tables = 2, probes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exhaustive == exact, "probing every bucket must reproduce exact top-k")
    def recall(probes: Int): Int = {
      val approx = Similarity.lshTopK(q, e, k = 3, planes = 4, tables = 2, probes = probes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count { case (qid, nid, _) => approx.contains((qid, nid)) }
    }
    assert(recall(8) >= recall(1), "probing more buckets must not lose candidates")
  }

  test("exhaustive-probe embeddingCandidates finds exactly the threshold pair set") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      .filter(col("id") < 100)
    val got = Dedup.embeddingCandidates(e, "vec", "id", threshold = 0.4,
      planes = 4, tables = 2, probes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: explicit cross join + exact cosine
    val a = e.select(col("id").as("idA"), col("vec").as("va"))
    val b = e.select(col("id").as("idB"), col("vec").as("vb"))
    val want = a.join(b, col("idA") < col("idB"))
      .select(col("idA"), col("idB"), Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("semanticDedup: gate mode equals exact clustering; cells only refine") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
      .filter(col("id") < 100)
    // exact reference: all-pairs cosine ≥ t → connected components
    val a = e.select(col("id").as("idA"), col("vec").as("va"))
    val b = e.select(col("id").as("idB"), col("vec").as("vb"))
    val exactPairs = a.join(b, col("idA") < col("idB"))
      .select(col("idA"), col("idB"), Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= 0.4).select("idA", "idB")
    val want = Dedup.clusterAssignments(e, "id", exactPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val gate = Dedup.semanticDedup(e, "vec", "id", threshold = 0.4, nCentroids = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(gate.map(x => x._1 -> x._2).toMap == want,
      "nCentroids=1 must reproduce the exact pairwise clustering")
    gate.foreach { case (id, cid, keep) => assert(keep == (id == cid)) }

    // cell pruning can only DROP edges → pruned clusters refine exact ones:
    // ids the pruned run puts together must be together in the exact run
    val pruned = Dedup.semanticDedup(e, "vec", "id", threshold = 0.4, nCentroids = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    pruned.groupBy(_._2).values.foreach { grp =>
      val exactClusters = grp.map(x => want(x._1)).toSet
      assert(exactClusters.size == 1,
        s"pruned cluster spans exact clusters: $grp")
    }
  }

  test("keepBest keeps the top-scored member per cluster, ties by min id") {
    val clustered = Seq(
      (1L, 1L, 10L), (2L, 1L, 30L), (3L, 1L, 30L), // cluster 1: 2 wins tie
      (4L, 4L, 5L), // singleton keeps itself
      (5L, 5L, 1L), (6L, 5L, 2L)).toDF("id", "cluster_id", "quality")
    val out = Dedup.keepBest(clustered, "id", "cluster_id", "quality")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(out(2L) == (3L, true) && out(3L) == (3L, false) && out(1L) == (3L, false))
    assert(out(4L) == (1L, true))
    assert(out(6L) == (2L, true) && out(5L) == (2L, false))
  }

  test("prototypicality: drops the easiest per cell, keeps the keepFrac") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val out = Similarity.prototypicality(e, "vec", "id",
      nCentroids = 4, keepFrac = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getLong(4), r.getBoolean(5)))
    assert(out.length == e.count())
    // per cell: exactly floor(0.3·n) dropped, and every dropped row is at
    // least as prototypical (≥ sim) as every kept row
    out.groupBy(_._2).foreach { case (cell, rows) =>
      val n = rows.head._5
      assert(rows.length.toLong == n)
      val (kept, dropped) = rows.partition(_._6)
      assert(dropped.length == math.floor(0.3 * n).toLong, s"cell $cell")
      if (kept.nonEmpty && dropped.nonEmpty)
        assert(dropped.map(_._3).min >= kept.map(_._3).max - 1e-12, s"cell $cell")
    }
  }

  test("simhash skew guard bounds degenerate buckets (1000 identical docs)") {
    val docs = (1 to 1000).map(i => (i.toLong, "same same same")).toDF("doc_id", "text")
    // all docs share every band chunk; maxBucket drops those buckets instead
    // of exploding into ~500k pairs
    val n = Dedup.simhashCandidates(docs, "text", "doc_id", maxDist = 10, maxBucket = 64).count()
    assert(n == 0, s"oversized buckets must be dropped, got $n pairs")
    // with a guard above the corpus size the pairs come back
    val m = Dedup.simhashCandidates(
      docs.limit(30), "text", "doc_id", maxDist = 10, maxBucket = 1000).count()
    assert(m == 30L * 29 / 2)
  }

  test("trainCentroids returns reusable metadata; ivfTopK(precomputed) matches default") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val q = e.filter(col("id") < 10)
    val cents = Similarity.trainCentroids(e, nCentroids = 8)
    assert(cents.length == 8 && cents.forall(_.nonEmpty))
    val viaPre = Similarity.ivfTopK(q, e, k = 3, nCentroids = 8, nprobe = 8,
      centroids = Some(cents)).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaDefault = Similarity.ivfTopK(q, e, k = 3, nCentroids = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaPre == viaDefault)
  }

  test("PQ ANN: lossless gate mode (ksub ≥ distinct subvectors) equals exact top-k") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val q = e.filter(col("id") < 20)
    val model = Similarity.trainPq(e, m = 8, ksub = 512)
    assert(model.dsub == 8 && model.ksub == 512)
    val pq = Similarity.pqTopK(q, e, k = 5, model = Some(model))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bf = Similarity.bruteForceTopK(q, e, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pq == bf, "lossless PQ must reproduce exact brute-force ranks")
  }

  test("PQ ANN: compression mode (ksub ≪ corpus) keeps useful recall; model is reusable") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val q = e.filter(col("id") < 20)
    val bf = Similarity.bruteForceTopK(q, e, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(ksub: Int): (Double, Similarity.PqModel) = {
      val model = Similarity.trainPq(e, m = 8, ksub = ksub)
      val pq = Similarity.pqTopK(q, e, k = 5, model = Some(model))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ((pq & bf).size.toDouble / bf.size, model)
    }
    // synthetic embeddings are near-orthogonal (tiny neighbor margins), so
    // absolute recall is pessimistic vs real embedding manifolds — the
    // property that must hold is recall growing with codebook resolution
    val (r16, model16) = recallAt(16)
    val (r128, _) = recallAt(128)
    assert(r128 > r16, s"recall must grow with ksub: r16=$r16 r128=$r128")
    assert(r128 >= 0.4, s"ADC recall@5 at ksub=128 too low: $r128")
    // same model, twice: identical output (deterministic train + encode)
    val pq1 = Similarity.pqTopK(q, e, k = 5, model = Some(model16))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq2 = Similarity.pqTopK(q, e, k = 5, model = Some(model16))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq1 == pq2)
  }

  test("IVFADC: exhaustive-lossless mode equals brute force; recall grows with nprobe") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val q = e.filter(col("id") < 20)
    val bf = Similarity.bruteForceTopK(q, e, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // gate mode: 1 cell + nprobe 1 (exhaustive join) + lossless codebook
    val exhaustive = Similarity.ivfPqTopK(q, e, k = 5,
      nCentroids = 1, nprobe = 1, m = 8, ksub = 512)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exhaustive == bf, "exhaustive-lossless IVFADC must reproduce brute-force ranks")
    // pruning mode: with a lossless codebook, probing ALL cells is again
    // exact, and recall@5 can only grow as nprobe widens the scan
    val bfIds = bf.map(t => (t._1, t._2))
    val cents = Similarity.trainCentroids(e, nCentroids = 8)
    val model = Similarity.trainPq(e, m = 8, ksub = 512)
    def recallAt(nprobe: Int): Double = {
      val got = Similarity.ivfPqTopK(q, e, k = 5, nCentroids = 8,
        nprobe = nprobe, m = 8, ksub = 512,
        centroids = Some(cents), model = Some(model))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & bfIds).size.toDouble / bfIds.size
    }
    val r1 = recallAt(1)
    val r8 = recallAt(8)
    assert(r8 >= r1, s"recall must not fall as nprobe grows: r1=$r1 r8=$r8")
    assert(r8 == 1.0, s"full probe with a lossless codebook is exact: $r8")
  }

  test("pHash: identical payloads collide, perturbed payloads stay close, inverted drift far") {
    // structured payloads make the expectation exact: "azaz…" puts the
    // high byte in odd position classes, "zaza…" in even ones — the two
    // hashes are complementary on all 60 bits.
    val az = "az" * 300
    val za = "za" * 300
    val words = (1 to 80).map(i => s"w${i * 7}").mkString(" ")
    val perturbed = words.updated(words.length / 2, 'Q')
    val docs = Seq((1L, words), (2L, words), (3L, perturbed), (4L, az), (5L, za))
      .toDF("doc_id", "text")
    val media = Multimodal.fromDocuments(docs, "doc_id", "text", "text/plain")
    val ph = Multimodal.pHash(media).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph(1L) == ph(2L), "identical payloads must collide")
    assert(java.lang.Long.bitCount(ph(4L) ^ ph(5L)) == 60, "phase-inverted payloads are complementary")
    val cands = Multimodal.phashCandidates(media, maxDist = 3, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(cands.contains((1L, 2L, 0)), "exact dup must surface at distance 0")
    assert(cands.exists(c => c._1 == 1L && c._2 == 3L && c._3 <= 3),
      "single-byte perturbation must stay within banding reach")
    assert(!cands.exists(c => c._2 == 5L && c._1 == 4L), "complementary hashes must not pair")
  }

  test("frame fingerprints: tail edits keep leading frames, unrelated media never pair") {
    val base = (1 to 40).map(i => f"seg$i%03d").mkString("|") // 280 bytes, varied
    val docs = Seq(
      (1L, base),
      (2L, base.dropRight(20) + "XXREPLACEDTAILXX"), // same leading content
      (3L, (1 to 40).map(i => f"zzz$i%03d").mkString("|"))).toDF("doc_id", "text")
    val media = Multimodal.fromDocuments(docs, "doc_id", "text", "text/plain")
    val fps = Multimodal.frameFingerprints(media, n = 8, w = 16, stride = 32)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(fps((1L, 0)) == fps((2L, 0)), "leading frame must survive a tail edit")
    val pairs = Multimodal.frameNearDupCandidates(media, n = 8, w = 16,
      stride = 32, minShared = 4, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 4),
      s"tail-edited copy must share >= 4 leading frames: $pairs")
    assert(!pairs.exists(p => p._2 == 3L), "unrelated media must not pair")
  }

  test("keyframes: one emission per held-shot run, in frame order") {
    val a = "a" * 64; val b = "b" * 64
    // frames: a a b a a -> runs start at 0, 2, 3
    val docs = Seq((1L, a + a + b + a + a), (2L, a)).toDF("doc_id", "text")
    val media = Multimodal.fromDocuments(docs, "doc_id", "text", "text/plain")
    val got = Multimodal.keyframes(media, n = 8, w = 16, stride = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(0, 2, 3),
      s"run starts only: ${got.toSeq}")
    assert(got.filter(_._1 == 2L).map(_._2).toSeq == Seq(0),
      "single-frame media keeps its one frame")
    // reduction law: keyframe count <= frame count, and fp at a keyframe
    // equals the fingerprint of that frame
    val fps = Multimodal.frameFingerprints(media, n = 8, w = 16, stride = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    Multimodal.keyframes(media, n = 8, w = 16, stride = 64).collect().foreach { r =>
      assert(fps((r.getLong(0), r.getInt(1))) == r.getLong(2))
    }
  }

  test("pHash skew guard bounds degenerate buckets (identical payloads)") {
    val docs = (1L to 500L).map(i => (i, "same payload body " * 10)).toDF("doc_id", "text")
    val media = Multimodal.fromDocuments(docs, "doc_id", "text", "text/plain")
    val n = Multimodal.phashCandidates(media, maxDist = 3, maxBucket = 64).count()
    assert(n == 0L, "capped degenerate buckets must not produce quadratic pairs")
  }

  test("incremental exact dedup flags corpus dups, within-batch dups, and novel docs") {
    val corpus = Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    val batch = Seq((10L, "aaa"), (11L, "ccc"), (12L, "ccc"), (13L, "ddd"))
      .toDF("doc_id", "text")
    val idx = Dedup.exactIndex(corpus, "text", "doc_id")
    val out = Dedup.incrementalExact(batch, idx, "text", "doc_id").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(out(10L) == ((1L, true, false)), "corpus duplicate must not be kept")
    assert(out(11L) == ((-1L, true, true)), "novel first occurrence must be kept")
    assert(out(12L) == ((-1L, false, false)), "within-batch duplicate must not be kept")
    assert(out(13L) == ((-1L, true, true)))
  }

  test("incremental minhash candidates equal the cross-pair subset of full dedup") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val idx = Dedup.minhashIndex(docs.filter(col("doc_id") < 250), "text", "doc_id")
    assert(idx.numHashes == 64, "index carries its hash-family parameters")
    val inc = Dedup.incrementalMinhashCandidates(
      docs.filter(col("doc_id") >= 250), idx, "text", "doc_id", maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (corpus_id, batch_id)
    val full = Dedup.minhashCandidates(docs, "text", "doc_id", maxBucket = Int.MaxValue)
      .filter(col("idA") < 250 && col("idB") >= 250)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full, s"delta-vs-index must equal the cross subset: ${inc.size} vs ${full.size}")
    assert(full.nonEmpty, "test data must actually contain cross-split near-dups")
  }

  test("pipeline disposition: first-drop precedence and per-stage flags on toy docs") {
    import graft.ops.Pipelines
    val good = "the and of that with " + ("wonderful " * 30).trim
    val short = "the and clearly insufficient"
    val docs = Seq(
      (1L, good),                                     // survivor
      (5L, good),                                     // dup of 1 → 'dedup'
      (2L, ("der die das und ist nicht mit " * 10).trim), // 'lang'
      (3L, short),                                    // 'quality' (en, too short)
      (9L, short)                                     // dup of 3 → 'dedup' (precedence)
    ).toDF("doc_id", "text")
    val out = Pipelines.disposition(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> ((if (r.isNullAt(1)) "ok" else r.getString(1)),
        if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(out(1L)._1 == "ok" && Set("train", "val", "test").contains(out(1L)._2))
    assert(out(5L) == (("dedup", null)))
    assert(out(2L) == (("lang", null)))
    assert(out(3L) == (("quality", null)))
    assert(out(9L) == (("dedup", null)), "dedup must take precedence over quality")
  }

  test("pipeline disposition survivors equal the composition of the individual operators") {
    import graft.ops.{Curation, Pipelines}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val disp = Pipelines.disposition(docs, "text", "doc_id")
    val survivors = disp.filter(col("dropped_at").isNull)
      .select("doc_id").as[Long].collect().toSet
    val firstOcc = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val en = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .filter(col("l") === "en").select("doc_id").as[Long].collect().toSet
    val quality = Curation.qualityFilter(docs, "text", "doc_id",
      minWords = 30, maxWords = Int.MaxValue, minMeanWordLen = 4.0,
      maxMeanWordLen = Double.MaxValue, minStopwordHits = 2, minAlphaWordFrac = 0.0,
      maxDupLineFrac = 1.0, maxDupLineCharFrac = 1.0)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(survivors == (firstOcc & en & quality),
      s"pipeline must equal the operator chain: ${survivors.size} vs ${(firstOcc & en & quality).size}")
    assert(survivors.nonEmpty && survivors.size < docs.count(),
      "every stage must actually fire on the test corpus")
  }

  test("salted join equals the plain join on skewed data and spreads the hot key") {
    import graft.ops.Skew
    // one hot key (900 rows) + a long tail
    val skewed = ((1 to 900).map(i => (i.toLong, "hot")) ++
      (901 to 1000).map(i => (i.toLong, s"k${i % 17}"))).toDF("row_id", "k")
    val build = (Seq("hot") ++ (0 until 17).map(i => s"k$i")).zipWithIndex
      .map { case (k, v) => (k, v.toLong) }.toDF("k", "v")
    val plain = skewed.join(build, "k")
      .select("row_id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = Skew.saltedJoin(skewed, build, "k", col("row_id"), saltFactor = 8)
      .select("row_id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == plain, "salted join must be semantically identical")
    // the salt actually spreads the hot key across distinct salt values
    val spread = skewed.filter(col("k") === "hot")
      .select(pmod(xxhash64(col("row_id")), lit(8L)).as("s"))
      .distinct().count()
    assert(spread == 8, s"hot key must spread over all salts, got $spread")
  }

  test("int8 quantization: bounded reconstruction error, high top-k recall, zero-span safe") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val q = Similarity.quantizeInt8(e)
    val err = Similarity.dequantizeInt8(q).withColumnRenamed("vec", "dq")
      .join(e, "id")
      .select(expr("aggregate(zip_with(vec, dq, (a, b) -> abs(a - b)), 0D, (m, x) -> greatest(m, x))").as("e"),
        expr("array_max(vec) - array_min(vec)").as("span"))
      .select(max(col("e") / col("span"))).head().getDouble(0)
    assert(err <= 1.0 / 510 + 1e-12, s"per-element error must be <= span/510, got $err of span")
    // recall: exact top-5 vs top-5 over dequantized vectors
    val qs = e.filter(col("id") < 20)
    val bf = Similarity.bruteForceTopK(qs, e, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dq = Similarity.dequantizeInt8(q)
    val bq = Similarity.bruteForceTopK(qs.join(dq, "id").select(col("id"), dq("vec")), dq, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & bq).size.toDouble / bf.size
    assert(recall >= 0.8, s"int8 recall@5 too low: $recall")
    val flat = Seq((1L, Seq(2.5, 2.5, 2.5))).toDF("id", "vec")
    val fq = Similarity.quantizeInt8(flat).select("codes").head().getSeq[Int](0)
    assert(fq == Seq(0, 0, 0), "zero-span vectors must code to 0")
  }

  test("sharded output: balanced range shards, lossless round-trip, internal order") {
    import graft.ops.Tables
    val df = spark.range(0, 10000).toDF("doc_id")
      .withColumn("payload", concat(lit("d"), col("doc_id")))
    val out = "/tmp/graft-test-shards"
    Tables.writeSharded(df, out, "doc_id", nShards = 8)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.getPath).sorted
    assert(files.length == 8, s"expected 8 shards, got ${files.length}")
    val sizes = files.map(f => spark.read.parquet(f).count())
    assert(sizes.max < sizes.min * 2, s"range shards must balance: ${sizes.toSeq}")
    val back = spark.read.parquet(out)
    assert(back.count() == 10000 &&
      back.agg(sum(col("doc_id"))).head().getLong(0) == 10000L * 9999 / 2,
      "round-trip must be lossless")
    // each shard is internally ordered by the key
    val firstShard = spark.read.parquet(files.head).select("doc_id").as[Long].collect()
    assert(firstShard.sorted.toSeq == firstShard.toSeq, "shards must be internally ordered")
  }

  test("incremental simhash candidates equal the full generator's cross pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val idx = Dedup.simhashIndex(corpus, "text", "doc_id")
    val inc = Dedup.incrementalSimhashCandidates(batch, idx, "text", "doc_id",
        maxDist = 10, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // the full generator over corpus ∪ batch, restricted to cross pairs and
    // reoriented (batch, corpus), must agree exactly — shared band exprs
    val full = Dedup.simhashCandidates(docs, "text", "doc_id",
        maxDist = 10, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .flatMap { case (a, b, h) =>
        if (a % 2 == 0 && b % 2 == 1) Some((b, a, h))
        else if (a % 2 == 1 && b % 2 == 0) Some((a, b, h))
        else None
      }.toSet
    assert(inc.nonEmpty && inc == full,
      s"incremental must match the full generator: ${inc.size} vs ${full.size}")
  }

  test("corpus signature is mergeable and overlap estimates corpus jaccard") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(300)
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    // mergeability law: sig(A ∪ B) = elementwise min of sig(A), sig(B)
    val sigU = Dedup.corpusSignature(docs, "text")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sigA = Dedup.corpusSignature(a, "text")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sigB = Dedup.corpusSignature(b, "text")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sigU.keySet == (0 until 64).toSet)
    assert(sigU == sigU.keySet.map(i => i -> math.min(sigA(i), sigB(i))).toMap,
      "union signature must be the elementwise min of the part signatures")
    // estimate tracks the exact corpus-level shingle jaccard
    def gramSet(d: org.apache.spark.sql.DataFrame) =
      d.select(explode(Dedup.shingles(col("text"), 3)).as("g"))
        .distinct().collect().map(_.getString(0)).toSet
    val (ga, gb) = (gramSet(a), gramSet(b))
    val exact = ga.intersect(gb).size.toDouble / ga.union(gb).size
    val est = Dedup.corpusOverlapEstimate(
        Dedup.corpusOverlap(
          Dedup.corpusSignature(a, "text"),
          Dedup.corpusSignature(b, "text")))
      .collect().head
    assert(est.getLong(0) == 64L)
    val estJ = est.getLong(2) / 1000.0
    assert(math.abs(estJ - exact) <= 0.2,
      s"minhash estimate $estJ must track exact corpus jaccard $exact (64 hashes)")
  }

  test("keepTopFraction: exact per-group floor semantics, deterministic ties") {
    import graft.ops.Curation
    val df = Seq(
      // group g1: 10 rows, scores 1..10 → keep 200‰ = top 2 (10, 9)
      (1L to 10L).map(i => (i, "g1", i * 10L)),
      // group g2: 4 rows → floor(4*200/1000) = 0 kept
      (11L to 14L).map(i => (i, "g2", 100L)),
      // group g3: 5 rows all tied → keep floor(5*200/1000)=1, lowest id wins
      (21L to 25L).map(i => (i, "g3", 7L))
    ).flatten.toDF("id", "grp", "score")
    val kept = Curation.keepTopFraction(df, "score", Seq("grp"), 200, "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set((10L, "g1"), (9L, "g1"), (21L, "g3")))
    // keepPermille = 1000 keeps everything
    assert(Curation.keepTopFraction(df, "score", Seq("grp"), 1000, "id").count() == 19)
  }

  test("keepTopFraction survives groups past the int rank*1000 overflow line") {
    import graft.ops.Curation
    // 2.2M rows in ONE group: ranks beyond 2_147_483 would flip the
    // predicate sign if rank*1000 were computed in int
    val big = spark.range(2200000L).toDF("id")
      .withColumn("grp", lit("g")).withColumn("score", lit(1L))
    val kept = Curation.keepTopFraction(big, "score", Seq("grp"), 1, "id")
    assert(kept.count() == 2200L, "floor(2.2M * 1/1000) rows kept")
    assert(kept.agg(max("id")).collect().head.getLong(0) == 2199L,
      "all-tied scores cut by ascending id")
  }

  test("keepTopFractionApprox: no window, contains the exact tier's rows") {
    import graft.ops.Curation
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val exact = Curation.keepTopFraction(docs, "n_chars", Seq("lang"), 300, "doc_id")
      .collect().map(_.getLong(0)).toSet
    val approx = Curation.keepTopFractionApprox(docs, "n_chars", Seq("lang"), 300,
      accuracy = 100000)
    val approxIds = approx.collect().map(_.getLong(0)).toSet
    // high-accuracy sketch: every exactly-kept row clears the threshold;
    // only boundary/tie rows may be added
    assert(exact.subsetOf(approxIds),
      s"approx tier must contain the exact tier (missing ${exact.diff(approxIds).take(5)})")
    val nGroups = docs.select("lang").distinct().count()
    assert(approxIds.size <= exact.size + 2 * nGroups,
      "approx tier may only add boundary rows per group")
    // the 100 TB property: no WindowExec, broadcast threshold join
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "sketch tier must not sort the corpus")
    assert(plan.contains("BroadcastHashJoin"), "threshold join must broadcast")
  }

  test("auditCandidates: exact precision on full sample, deterministic sub-sample") {
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("w25", "wX")),                    // true near-dup of 1
      (3L, (1 to 50).map(i => s"q$i").mkString(" ")),     // unrelated
      (4L, base + " extra trailing words here")           // true-ish superset
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("idA", "idB")
    // full sample: precision is exactly 2/3 at a 50% unigram-jaccard bar
    val full = Dedup.auditCandidates(pairs, docs, "text", "doc_id",
      minJaccardPermille = 500, samplePermille = 1000).collect().head
    assert(full.toSeq == Seq(3L, 2L, 666L))
    // sub-sample: deterministic (identical across runs) and a subset
    val s1 = Dedup.auditCandidates(pairs, docs, "text", "doc_id",
      minJaccardPermille = 500, samplePermille = 500).collect().head
    val s2 = Dedup.auditCandidates(pairs, docs, "text", "doc_id",
      minJaccardPermille = 500, samplePermille = 500).collect().head
    assert(s1.toSeq == s2.toSeq, "hash sampling must be reproducible")
    assert(s1.getLong(0) <= 3L)
  }

  test("normalizeText collapses cosmetic variants to one canonical form, idempotently") {
    val rows = Seq(
      "\tHello World\u0000  TaiL   x",
      "hello world tail x",
      "HELLO　　WORLD\r\nTAIL /x".replace("/", " ")
    ).toDF("t")
    val out = rows.select(TextAnalysis.normalizeText(col("t")).as("n")).collect().map(_.getString(0))
    assert(out(0) == "hello world tail x")
    assert(out(1) == "hello world tail x")
    assert(out(2) == "hello world tail x")
    // idempotence: a second pass is the identity
    val twice = rows.select(
      TextAnalysis.normalizeText(TextAnalysis.normalizeText(col("t"))).as("a"),
      TextAnalysis.normalizeText(col("t")).as("b"))
      .collect()
    assert(twice.forall(r => r.getString(0) == r.getString(1)))
    // lowercase=false keeps case, still canonical whitespace
    val kept = rows.select(TextAnalysis.normalizeText(col("t"), lowercase = false))
      .collect().head.getString(0)
    assert(kept == "Hello World TaiL x")
  }

  test("snapshotDiff classifies added/removed/changed and drops unchanged by default") {
    import graft.ops.Tables
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "content")
    val nw = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "content")
    val delta = Tables.snapshotDiff(old, nw, "id", "content")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(delta == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    val full = Tables.snapshotDiff(old, nw, "id", "content", includeUnchanged = true)
    assert(full.count() == 4)
    assert(full.filter(col("status") === "unchanged").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // digests ride the output so downstream audits need no re-read
    val changed = full.filter(col("status") === "changed").collect().head
    assert(changed.getString(2) != changed.getString(3))
  }

  test("fileStats + pruneCandidates: per-file range manifest prunes non-overlapping files") {
    import graft.ops.Tables
    val out = java.nio.file.Files.createTempDirectory("graft-filestats").toString + "/tbl"
    // range-sharded write → tight, disjoint per-file id ranges (the layout
    // fileStats is designed to exploit); every 100th v is null
    spark.range(0, 1000).toDF("id")
      .withColumn("v", when(col("id") % 100 === 0, lit(null: String))
        .otherwise(concat(lit("x"), col("id"))))
      .repartitionByRange(4, col("id"))
      .write.parquet(out)
    val df = spark.read.parquet(out)
    val stats = Tables.fileStats(df, Seq("id", "v")).collect()
    assert(stats.length == 4, "one manifest row per file")
    assert(stats.map(_.getAs[Long]("n_rows")).sum == 1000L)
    assert(stats.map(_.getAs[Long]("v_nulls")).sum == 10L)
    assert(stats.forall(_.getAs[Long]("id_nulls") == 0L))
    // ranges are disjoint, so a point predicate prunes to exactly one file
    val ranges = stats.map(r => (r.getAs[Long]("id_min"), r.getAs[Long]("id_max")))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 < b._1, s"ranges must be disjoint: ${ranges.toSeq}")
      case _ =>
    }
    val cand = Tables.pruneCandidates(
      Tables.fileStats(df, Seq("id")), "id", lit(5L), lit(5L)).collect()
    assert(cand.length == 1)
    // the manifest points at a real readable file containing the match
    val hit = spark.read.parquet(cand.head.getAs[String]("file"))
      .filter(col("id") === 5L).count()
    assert(hit == 1L)
  }

  test("compactDir: merges small files per partition leaf, lossless, idempotent") {
    import graft.ops.Tables
    val out = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/tbl"
    // two partition leaves, each deliberately fragmented into ~20 tiny files
    spark.range(0, 4000).toDF("id")
      .withColumn("p", (col("id") % 2).cast("int"))
      .withColumn("payload", concat(lit("d"), col("id")))
      .repartition(20)
      .write.partitionBy("p").parquet(out)
    def leafFiles(p: Int) = new java.io.File(s"$out/p=$p").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(leafFiles(0) >= 10, "fixture must start fragmented")
    val stats = Tables.compactDir(spark, out, targetBytes = 512L * 1024 * 1024)
    assert(stats.leavesCompacted == 2 && stats.filesAfter == 2,
      s"each leaf should compact to one target-size file: $stats")
    assert(leafFiles(0) == 1 && leafFiles(1) == 1)
    // lossless: same rows, partition column still derived from dir names
    val back = spark.read.parquet(out)
    assert(back.count() == 4000 &&
      back.agg(sum(col("id"))).head().getLong(0) == 4000L * 3999 / 2)
    assert(back.filter(col("p") === 1).count() == 2000)
    // second run finds nothing below the avg-size threshold to rewrite
    val again = Tables.compactDir(spark, out, targetBytes = 512L * 1024 * 1024)
    assert(again == Tables.CompactionStats(0, 0, 0), s"must be idempotent: $again")
  }

  test("compactDir crash recovery: an orphaned __compact_old leaf is restored, stale dirs cleaned") {
    import graft.ops.Tables
    val out = java.nio.file.Files.createTempDirectory("graft-compact-crash").toString + "/tbl"
    spark.range(0, 1000).toDF("id").withColumn("p", (col("id") % 2).cast("int"))
      .repartition(8).write.partitionBy("p").parquet(out)
    // simulate a crash between the two swap renames: leaf p=0 moved aside,
    // replacement never installed
    val p0 = new java.io.File(s"$out/p=0")
    val old = new java.io.File(s"$out/.p=0__compact_old")
    assert(p0.renameTo(old), "fixture: move leaf aside")
    // and a stale incomplete tmp next to p=1
    new java.io.File(s"$out/.p=1__compact_tmp").mkdirs()
    Tables.compactDir(spark, out, targetBytes = 512L * 1024 * 1024)
    assert(p0.exists && !old.exists, "orphaned old dir must be restored as the leaf")
    val back = spark.read.parquet(out)
    assert(back.count() == 1000 &&
      back.agg(sum(col("id"))).head().getLong(0) == 1000L * 999 / 2,
      "recovery must lose no rows")
  }

  test("multimodal: stub decode is deterministic, batch plumbing preserves ids") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val media = Multimodal.fromDocuments(docs, "doc_id", "text", "text/plain")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "content", "meta"))
    val f1 = Multimodal.extractFeatures(media, dim = 8).collect()
    val f2 = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(f1.map(_.media_id).sorted.toSeq == docs.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(f1.map(_.feature.toSeq).toSeq == f2.map(_.feature.toSeq).toSeq, "decode must be deterministic")
    assert(f1.forall(_.feature.length == 8))
    val frames = Multimodal.sampleFrames(media, 4).collect()
    assert(frames.forall(_.getSeq[Long](1).size == 4))
  }

  // --- real image decode (javax.imageio, JDK-only) -----------------------
  private def imageBytes(fmt: String, w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer in JDK")
    bos.toByteArray
  }

  private def mediaFrom(rows: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    rows.toDF("media_id", "content").withColumn("meta", struct(
      lit("image/x-test").as("mime"), lit(16).as("width"), lit(16).as("height"),
      lit(0L).as("duration_ms"), length(col("content")).cast("long").as("n_bytes")))
  }

  test("multimodal: real PNG decodes to the luma grid; text falls back to the stub") {
    // top half white, bottom half black — the 4x4 luma grid's first two
    // rows must read bright, last two dark
    val png = imageBytes("png", 16, 16)((_, y) => if (y < 8) 0xffffff else 0x000000)
    val txt = "just some plain text, definitely not an image".getBytes("UTF-8")
    val media = mediaFrom(Seq((1L, png), (2L, txt)))
    val f = Multimodal.extractFeatures(media, dim = 16).collect()
      .map(m => m.media_id -> m).toMap
    val img = f(1L)
    assert(img.n_frames == 1, "a decoded still image is one frame")
    assert(img.feature.take(8).forall(_ > 0.9f), s"top grid rows must be bright: ${img.feature.toSeq}")
    assert(img.feature.drop(8).forall(_ < 0.1f), s"bottom grid rows must be dark: ${img.feature.toSeq}")
    // text payload: byte-hash stub, unchanged by the decode tier
    assert(f(2L).feature.toSeq == Multimodal.decodeStub(txt, 16).toSeq)
  }

  test("multimodal: decoded pHash is container-invariant (PNG == BMP) and pixel-sensitive") {
    val pxTwoTone = (x: Int, _: Int) => if (x < 8) 0xffffff else 0x000000
    val png = imageBytes("png", 16, 16)(pxTwoTone)
    val bmp = imageBytes("bmp", 16, 16)(pxTwoTone)
    val inv = imageBytes("png", 16, 16)((x, _) => if (x < 8) 0x000000 else 0xffffff)
    val txt = "not an image".getBytes("UTF-8")
    assert(!png.sameElements(bmp), "containers must actually differ byte-wise")
    val media = mediaFrom(Seq((1L, png), (2L, bmp), (3L, inv), (4L, txt)))
    val ph = Multimodal.pHashDecoded(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph(1L) == ph(2L), "same pixels, different container => same pixel pHash")
    assert(ph(1L) != ph(3L), "inverted pixels => different pHash")
    // non-image payloads degrade to the byte-path expression, bit-for-bit
    val bytePh = Multimodal.pHash(mediaFrom(Seq((4L, txt)))).head().getLong(1)
    assert(ph(4L) == bytePh, "fallback must equal the Catalyst byte pHash")
    // and the fixture PNG round-trips through the frame-fingerprint tier too
    val fps = Multimodal.frameFingerprints(media, n = 4, w = 8, stride = 16).collect()
    assert(fps.nonEmpty && fps.forall(_.getLong(2) >= 0))
  }

  test("termMatchStats: Aho-Corasick goldens — overlaps, phrases, case, absent terms") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "aaa big Table BIG table slow"), // 'a' x3 standalone + inside 'table' x2
      (2L, "nothing to see here"),
      (3L, "slowslow")                      // adjacent occurrences
    ).toDF("doc_id", "text")
    val m = TextAnalysis.termMatchStats(docs, "text", "doc_id",
      terms = Seq("big table", "slow", "a", "zz"), minMatches = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getBoolean(3))).toMap
    // doc 1: 'big table' x2 (case-folded), 'slow' x1, 'a' = 3 (aaa) + 2 (tables) = 5 -> 8 total
    assert(m(1L) == ((8L, 3, true)), s"got $m")
    // doc 2: only 'a' does not appear... 'nothing to see here' has no 'a'
    assert(m(2L) == ((0L, 0, false)), s"got $m")
    assert(m(3L) == ((2L, 1, false)), s"got $m")
    // self-overlapping pattern: every position counts
    val ov = TextAnalysis.termMatchStats(Seq((1L, "aaaa")).toDF("doc_id", "text"),
      "text", "doc_id", terms = Seq("aa")).collect().head
    assert(ov.getLong(1) == 3L, "overlapping occurrences all count")
    // filter form keeps originals and drops flagged
    val kept = TextAnalysis.filterTermMatches(docs, "text", Seq("slow"), minMatches = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
  }

  test("media dedup end-to-end on real images: decoded pHash + banding finds the near-dup pairs") {
    // the full pipeline on actual decoded pixels: gradient images where
    // pairs (1,2) and (3,4) differ by an invisible single-pixel tweak
    // (same luma grid => identical pixel pHash) while 5 is a different
    // gradient and 6 is text. phashCandidates over pHashDecoded must
    // return exactly the two planted pairs.
    def gradient(dx: Int, dy: Int, tweak: Boolean): Array[Byte] =
      imageBytes("png", 32, 32) { (x, y) =>
        val v = math.min(255, math.max(0, 128 + dx * (x - 16) + dy * (y - 16)))
        val v2 = if (tweak && x == 0 && y == 0) math.min(255, v + 1) else v
        (v2 << 16) | (v2 << 8) | v2
      }
    val media = mediaFrom(Seq(
      (1L, gradient(4, 0, tweak = false)),
      (2L, gradient(4, 0, tweak = true)),   // near-dup of 1 (sub-grid tweak)
      (3L, gradient(0, 4, tweak = false)),
      (4L, gradient(0, 4, tweak = true)),   // near-dup of 3
      (5L, gradient(-4, 2, tweak = false)), // different gradient
      (6L, "some text payload, not an image at all".getBytes("UTF-8"))))
    val hashed = graft.ops.Multimodal.pHashDecoded(media)
    // feed decoded hashes through the same banding join the byte tier uses
    val banded0 = hashed.select(col("media_id"), col("phash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("phash"), (lit(15) * b).cast("int"))
          .bitwiseAND(lit(0x7fffL)))).as(Seq("band", "chunk")))
    val a = banded0.select(col("band"), col("chunk"), col("media_id").as("idA"), col("phash").as("fpA"))
    val b = banded0.select(col("band"), col("chunk"), col("media_id").as("idB"), col("phash").as("fpB"))
    val pairs = a.join(b, Seq("band", "chunk"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        bit_count(col("fpA").bitwiseXOR(col("fpB"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("idA", "idB")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)),
      s"planted near-dup pairs must surface, nothing else: $pairs")
  }

  // --- real audio decode (javax.sound.sampled, JDK-only) -----------------
  private def audioBytes(fileType: javax.sound.sampled.AudioFileFormat.Type,
      samples: Array[Short], bigEndian: Boolean): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1,
      2, 8000f, bigEndian)
    val raw = new Array[Byte](samples.length * 2)
    for (i <- samples.indices) {
      val s = samples(i)
      if (bigEndian) { raw(2 * i) = (s >> 8).toByte; raw(2 * i + 1) = s.toByte }
      else { raw(2 * i) = s.toByte; raw(2 * i + 1) = (s >> 8).toByte }
    }
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(raw), fmt,
      samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, fileType, bos)
    bos.toByteArray
  }

  test("multimodal: audio features decode real WAV PCM (energy + zero crossings)") {
    import javax.sound.sampled.AudioFileFormat
    // 2048 samples: first window a +/-1000 square wave at period 16
    // (energy 1000, 128 crossings), second window silence
    val sq = Array.tabulate[Short](2048) { i =>
      if (i < 1024) { if ((i / 8) % 2 == 0) 1000 else -1000 } else 0
    }
    val wav = audioBytes(AudioFileFormat.Type.WAVE, sq, bigEndian = false)
    val media = mediaFrom(Seq((1L, wav), (2L, "not audio".getBytes("UTF-8"))))
    val rows = Multimodal.audioFeatures(media, windowSamples = 1024).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getInt(3))).toMap
    assert(rows.keySet == Set((1L, 0), (1L, 1)), s"non-audio must yield no rows: $rows")
    assert(rows((1L, 0))._1 == 1000L, "square wave mean |sample|")
    assert(rows((1L, 0))._2 == 127, s"8-sample half-period => 127 sign flips after t0: $rows")
    assert(rows((1L, 1)) == ((0L, 0)), "silent window")
  }

  test("multimodal: audio fingerprint is container-invariant (WAV == AIFF) and content-sensitive") {
    import javax.sound.sampled.AudioFileFormat
    val rnd = new scala.util.Random(7)
    // amplitude-modulated noise: alternating loud/quiet 1024-sample blocks
    val pcm = Array.tabulate[Short](16384) { i =>
      val amp = if ((i / 1024) % 2 == 0) 8000 else 200
      (rnd.nextInt(2 * amp) - amp).toShort
    }
    val wav = audioBytes(AudioFileFormat.Type.WAVE, pcm, bigEndian = false)
    val aiff = audioBytes(AudioFileFormat.Type.AIFF, pcm, bigEndian = true)
    assert(!wav.sameElements(aiff), "containers must differ byte-wise")
    val flat = Array.tabulate[Short](16384)(_ => (rnd.nextInt(4000) - 2000).toShort)
    val wavFlat = audioBytes(AudioFileFormat.Type.WAVE, flat, bigEndian = false)
    val txt = "definitely not audio".getBytes("UTF-8")
    val media = mediaFrom(Seq((1L, wav), (2L, aiff), (3L, wavFlat), (4L, txt)))
    val fp = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L), "same PCM, different container => same fingerprint")
    assert(fp(1L) != fp(3L), "different envelope => different fingerprint")
    val byteFp = Multimodal.pHash(mediaFrom(Seq((4L, txt)))).head().getLong(1)
    assert(fp(4L) == byteFp, "fallback must equal the Catalyst byte pHash")
  }

  test("multimodal: audio near-dup candidates pair re-encoded copies, not different recordings") {
    import javax.sound.sampled.AudioFileFormat
    // the envelope (per-1024-block loudness) is the fingerprint input:
    // same loudness pattern + different noise = a "re-encode"; a different
    // loudness pattern is a different recording
    def noisy(seed: Int, pattern: Int => Int) = {
      val r = new scala.util.Random(seed)
      Array.tabulate[Short](16384) { i =>
        val amp = pattern(i / 1024)
        (r.nextInt(2 * amp + 1) - amp).toShort
      }
    }
    val loudQuiet = (b: Int) => if (b % 2 == 0) 8000 else 200
    val ramp = (b: Int) => 500 + b * 500
    val a = audioBytes(AudioFileFormat.Type.WAVE, noisy(1, loudQuiet), bigEndian = false)
    val b = audioBytes(AudioFileFormat.Type.AIFF, noisy(2, loudQuiet), bigEndian = true)
    val c = audioBytes(AudioFileFormat.Type.WAVE, noisy(3, ramp), bigEndian = false)
    val media = mediaFrom(Seq((1L, a), (2L, b), (3L, c)))
    val pairs = Multimodal.audioNearDupCandidates(media, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "same envelope, different noise/container must pair")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"different envelope must not pair: $pairs")
  }

  test("zOrderValue: Morton interleave goldens, monotone locality, bit-budget guard") {
    import graft.ops.Tables
    import spark.implicits._
    // classic golden: z(x=5, y=3) with 3 bits = 0b011011 = 27
    // (x bits at even positions, y bits at odd)
    val df = Seq((5L, 3L), (0L, 0L), (7L, 7L), (4L, 2L)).toDF("x", "y")
    val got = df.select(Tables.zOrderValue(Seq(col("x"), col("y")), bits = 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(27L, 0L, 63L, 24L))
    // locality: within an aligned 2^k x 2^k tile, z-values are contiguous —
    // the property that makes per-file min/max prune both dimensions
    val tile = for { x <- 4 to 7; y <- 4 to 7 } yield (x.toLong, y.toLong)
    val zs = tile.toDF("x", "y")
      .select(Tables.zOrderValue(Seq(col("x"), col("y")), bits = 3).as("z"))
      .collect().map(_.getLong(0)).sorted
    assert(zs.head == 48L && zs.last == 63L && zs.distinct.length == 16)
    intercept[IllegalArgumentException] {
      Tables.zOrderValue(Seq(col("x"), col("y")), bits = 32) // 64 > 63
    }
  }

  test("stripMarkup: tags/script/style/comments removed, entities decoded, case kept") {
    val html =
      """<html><head><style type="text/css">p { color: red; }</style>
        |<script>var x = "<p>not text</p>";</script></head>
        |<body><!-- hidden --><h1>Title</h1>
        |<p class="lead">Hello &amp; welcome to &quot;Graft&quot;&nbsp;&mdash; 5 &lt; 7.</p>
        |</body></html>""".stripMargin
    val out = Seq(html).toDF("t")
      .select(TextAnalysis.stripMarkup(col("t")).as("s")).collect().head.getString(0)
    assert(out == "Title Hello & welcome to \"Graft\" &mdash; 5 < 7.")
    // &amp;lt; decodes to literal "&lt;" (amp decoded LAST), unknown
    // entities stay verbatim
    val tricky = Seq("a &amp;lt; b").toDF("t")
      .select(TextAnalysis.stripMarkup(col("t"))).collect().head.getString(0)
    assert(tricky == "a &lt; b")
    // plain text is untouched beyond whitespace canonicalization
    val plain = Seq("no  markup\there").toDF("t")
      .select(TextAnalysis.stripMarkup(col("t"))).collect().head.getString(0)
    assert(plain == "no markup here")
  }

  test("scriptProfile: per-script counts, per-mille fractions, dominant argmax") {
    val df = Seq(
      (1L, "hello world"),                         // pure latin
      (2L, "привет hi"), // 6 cyrillic, 2 latin
      (3L, "你好世界"),            // 4 cjk
      (4L, "12345"),                               // digits
      (5L, "!!! ???"),                             // punct only -> other
      (6L, "")                                     // empty
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scriptProfile(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[String]("dominant_script")).toSeq ==
      Seq("latin", "cyrillic", "cjk", "digit", "other", "other"))
    // row 2: 8 non-space chars, 6 cyrillic -> 750 permille, 2 latin -> 250
    assert(out(1).getAs[Long]("n_cyrillic") == 6L)
    assert(out(1).getAs[Int]("pm_cyrillic") == 750)
    assert(out(1).getAs[Int]("pm_latin") == 250)
    // row 5: everything lands in other
    assert(out(4).getAs[Long]("n_other") == 6L)
    assert(out(4).getAs[Int]("pm_other") == 1000)
    // fractions are of NON-SPACE chars: row 1 has 10 letters
    assert(out(0).getAs[Long]("n_chars") == 10L)
    assert(out(0).getAs[Int]("pm_latin") == 1000)
  }

  test("crossCorpusDedup: higher-priority source wins, min-id within source, overlap audit") {
    val wiki = Seq((10L, "shared doc"), (11L, "wiki only")).toDF("id", "text")
    val web = Seq((1L, "shared doc"), (2L, "web only"), (3L, "web only"))
      .toDF("id", "text")
    val out = Dedup.crossCorpusDedup(
      Seq("wiki" -> wiki, "web" -> web), "text", "id")
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getBoolean(2), r.getString(3), r.getLong(4)))).toMap
    // the shared doc keeps the wiki copy even though web's id is smaller
    assert(out(("wiki", 10L)) == ((true, "wiki", 10L)))
    assert(out(("web", 1L)) == ((false, "wiki", 10L)))
    // within-source dup: min id wins
    assert(out(("web", 2L)) == ((true, "web", 2L)))
    assert(out(("web", 3L)) == ((false, "web", 2L)))
    assert(out(("wiki", 11L)) == ((true, "wiki", 11L)))
    // exactly one keeper per distinct content
    val keepers = out.values.count(_._1)
    assert(keepers == 3)
    intercept[IllegalArgumentException] {
      Dedup.crossCorpusDedup(Seq("a" -> wiki, "a" -> web), "text", "id")
    }
  }

  test("tokenDrift: integer contributions rank the movers, absent tokens count 0") {
    val a = Seq("x x x y", "x y z").toDF("text")       // x:4 y:2 z:1, total 7
    val b = Seq("x y y", "y w").toDF("text")           // x:1 y:3 w:1, total 5
    val out = graft.ops.Profile.tokenDrift(a, b, "text", k = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getInt(6))).toMap
    // freqs: x a=4*1e6/7=571428, b=1*1e6/5=200000 -> diff 371428
    //   contrib = 371428^2 / 771428 = 178832...
    assert(out("x")._3 == 571428L && out("x")._4 == 200000L)
    assert(out("x")._5 == (371428L * 371428L) / 771428L)
    // w absent from a: cnt_a=0, freq_a=0, contrib = 200000^2/200000 = 200000
    assert(out("w")._1 == 0L && out("w")._4 == 200000L && out("w")._5 == 200000L)
    // z absent from b symmetric: 142857^2/142857 = 142857
    assert(out("z")._2 == 0L && out("z")._5 == 142857L)
    // ranks: x (178832+) > w (200000)? no — w=200000 > x=178832 -> w first
    val ranked = out.toSeq.sortBy(_._2._6).map(_._1)
    assert(ranked == Seq("w", "x", "z", "y"))
    // k truncates
    assert(graft.ops.Profile.tokenDrift(a, b, "text", k = 2).count() == 2)
  }

  test("dupSizeHistogram: multiplicity bins with doc and removable counts") {
    val docs = (Seq.fill(3)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = graft.ops.Dedup.dupSizeHistogram(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      3L -> (1L, 3L, 2L),   // one group of 3 copies: 3 docs, 2 removable
      2L -> (1L, 2L, 1L),
      1L -> (2L, 2L, 0L)))  // the clean tail removes nothing
  }

  test("joinCardinality: exact output size, hottest key, and side stats without joining") {
    val left = Seq("a", "a", "b", "c", "c", "c").toDF("k")
    val right = Seq("a", "a", "a", "b", "b", "d").toDF("k")
    val r = graft.ops.Skew.joinCardinality(left, right, Seq("k")).collect().head
    // matched: a 2*3=6, b 1*2=2 → join 8, max 6, 2 matched keys
    assert(r.getAs[Long]("join_rows") == 8L)
    assert(r.getAs[Long]("max_key_rows") == 6L)
    assert(r.getAs[Long]("matched_keys") == 2L)
    assert(r.getAs[Long]("left_rows") == 6L && r.getAs[Long]("left_keys") == 3L)
    assert(r.getAs[Long]("right_rows") == 6L && r.getAs[Long]("right_keys") == 3L)
    // the law: equals the actual join's count
    assert(left.join(right, "k").count() == 8L)
    // disjoint sides → all-zero matched stats
    val z = graft.ops.Skew.joinCardinality(
      Seq("x").toDF("k"), Seq("y").toDF("k"), Seq("k")).collect().head
    assert(z.getAs[Long]("join_rows") == 0L && z.getAs[Long]("max_key_rows") == 0L)
  }

  test("anchorProfile: top anchor terms per target domain with deterministic ties") {
    val links = Seq(
      ("https://a.x.com/1", "fast cars"),
      ("https://b.x.com/2", "Fast trucks"),
      ("https://y.org/3", "slow cars")).toDF("abs_url", "anchor")
    val out = graft.ops.Web.anchorProfile(links, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(3)) -> (r.getString(1), r.getLong(2))).toMap
    // x.com terms: fast 2, cars 1, trucks 1 → fast then cars (tie alpha)
    assert(out(("x.com", 1L)) == ("fast", 2L))
    assert(out(("x.com", 2L)) == ("cars", 1L))
    assert(out(("y.org", 1L)) == ("cars", 1L))
    assert(out(("y.org", 2L)) == ("slow", 1L))
  }

  test("keyProfile: heavy keys ranked deterministically with integer share and hot-key multiple") {
    // 16 rows over 4 keys: a=10, b=3, c=2, d=1 → mean 4/key
    val df = (Seq.fill(10)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c") ++ Seq("d"))
      .toDF("k")
    val out = graft.ops.Skew.keyProfile(df, Seq("k"), k = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // (cnt, total_rows, n_keys, key_rank, share_permille, vs_mean_permille)
    assert(out("a") == (10L, 16L, 4L, 1L, 625L, 2500L))  // 10/16, 10/mean(4)
    assert(out("b") == (3L, 16L, 4L, 2L, 187L, 750L))
    assert(out("c") == (2L, 16L, 4L, 3L, 125L, 500L))
    assert(!out.contains("d"))                            // k=3 truncates
    // count ties rank alphabetically
    val tie = Seq("y", "x", "x", "y").toDF("k")
    val ranks = graft.ops.Skew.keyProfile(tie, Seq("k"), k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(ranks == Map("x" -> 1L, "y" -> 2L))
  }

  test("domainFilterTable: broadcast anti-join blocks subdomains, keeps columns") {
    val docs = Seq(
      (1L, "https://a.bad.com/x"), (2L, "https://bad.com/y"),
      (3L, "https://good.com/z"), (4L, "https://sub.good.com/w")
    ).toDF("doc_id", "url")
    val blocklist = Seq("bad.com", "worse.org").toDF("domain")
    val kept = graft.ops.Web.domainFilterTable(docs, "url", blocklist)
    assert(kept.columns.toSeq == Seq("doc_id", "url"))
    assert(kept.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
  }

  test("epochPlan: caps repeats, reports shortfall and achieved mix, keeps untargeted strata") {
    val stats = Seq(("a", 1000L), ("b", 400L), ("c", 0L), ("d", 500L))
      .toDF("stratum", "tokens")
    val out = graft.ops.Curation.epochPlan(stats, "stratum", "tokens",
      targetPermille = Map("a" -> 500, "b" -> 300, "c" -> 100),
      budgetTokens = 2000L, maxEpochsMilli = 1200L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // (permille, target, epochs_milli, planned, shortfall, achieved)
    assert(out("a") == (500L, 1000L, 1000L, 1000L, 0L, 675L))   // uncapped
    assert(out("b") == (300L, 600L, 1200L, 480L, 120L, 324L))   // cap bites
    assert(out("c") == (100L, 200L, 0L, 0L, 200L, 0L))          // no data
    assert(out("d") == (0L, 0L, 0L, 0L, 0L, 0L))                // untargeted, kept
  }

  test("keywords: integer tf-idf scores, adaptive stopword drop, alphabetical ties, top-k") {
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana cherry date date date"),
      (3L, "apple xx cherry")).toDF("doc_id", "text")
    // n_docs=3; df: apple 2, banana 2, cherry 3, date 1 ("xx" < minTermLen)
    // idf_permille: apple/banana (3-2)*1000//3=333, cherry 0, date 666
    // maxDfPermille=900 drops cherry (df_permille=1000)
    val out = TextAnalysis.keywords(docs, "text", "doc_id", k = 2, maxDfPermille = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out((1L, 1L)) == ("apple", 2L, 2L, 666L))   // 2*333
    assert(out((1L, 2L)) == ("banana", 1L, 2L, 333L))
    assert(out((2L, 1L)) == ("date", 3L, 1L, 1998L))   // 3*666
    assert(out((2L, 2L)) == ("banana", 1L, 2L, 333L))
    assert(out((3L, 1L)) == ("apple", 1L, 2L, 333L))
    assert(out.size == 5)                               // doc 3 has one survivor
    // equal scores break alphabetically: two idf-equal singleton terms
    val tie = Seq((1L, "beta alpha solo")).toDF("doc_id", "text")
      .unionByName(Seq((2L, "unrelated words here")).toDF("doc_id", "text"))
    val got = TextAnalysis.keywords(tie, "text", "doc_id", k = 3)
      .filter(col("doc_id") === 1L).orderBy(col("kw_rank"))
      .collect().map(_.getString(2)).toSeq
    assert(got == Seq("alpha", "beta", "solo"))
  }

  test("docStitchCandidates: split halves stitch back, short docs skip, maxBucket guards boilerplate") {
    import SparkTestBase.spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),     // suffix-2: "g h"
      (2L, "g h i j k l"),         // prefix-2: "g h" -> 1 stitches to 2
      (3L, "zz yy"),               // no partner
      (4L, "x")                    // shorter than k: skipped
    ).toDF("id", "text")
    val out = graft.ops.Dedup.docStitchCandidates(docs, "text", "id", k = 2,
        maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 2L, "g h")))
    // a boilerplate boundary shared by many docs is dropped as a
    // stop-boundary once either side exceeds maxBucket
    val hub = Seq(
      (1L, "alpha beta continue reading"), (2L, "gamma delta continue reading"),
      (3L, "epsilon zeta continue reading"),
      (11L, "continue reading part two"), (12L, "continue reading part three"))
      .toDF("id", "text")
    val capped = graft.ops.Dedup.docStitchCandidates(hub, "text", "id", k = 2,
      maxBucket = 2)
    // "continue reading" has 3 suffix occurrences > maxBucket=2: dropped
    assert(capped.count() == 0L)
    val uncapped = graft.ops.Dedup.docStitchCandidates(hub, "text", "id", k = 2,
      maxBucket = 100)
    assert(uncapped.count() == 6L, "3 suffixes x 2 prefixes when exact")
  }

  test("zipfProfile: exact doubling buckets, shares, decay vs previous bucket") {
    import SparkTestBase.spark.implicits._
    // counts: a=5 (bucket 2), b=2, c=2 (bucket 1), d=1, e=1, f=1 (bucket 0)
    val docs = Seq((1L, "a a a b b c d"), (2L, "a a c e f")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.zipfProfile(docs, "text")
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    // totals: 12 tokens; bucket0: 3 terms 3 tokens (250 permille);
    // bucket1: 2 terms 4 tokens (333); bucket2: 1 term 5 tokens (416)
    assert(out.toSeq == Seq(
      (0L, 3L, 3L, 250L, -1L),
      (1L, 2L, 4L, 333L, 666L),
      (2L, 1L, 5L, 416L, 500L)))
    // minCount prunes singleton terms before bucketing
    val pruned = graft.ops.TextAnalysis.zipfProfile(docs, "text", minCount = 2L)
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pruned.toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("vocabCoverage: top-k token-mass shares at each requested size") {
    import SparkTestBase.spark.implicits._
    // counts: a=3, b=2, c=1 -> total 6
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.vocabCoverage(docs, "text", ks = Seq(1, 2, 3))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((3L, 6L, 500L)))
    assert(out(2L) == ((5L, 6L, 833L)))
    assert(out(3L) == ((6L, 6L, 1000L)))
    // k beyond the vocabulary covers everything
    val big = graft.ops.TextAnalysis.vocabCoverage(docs, "text", ks = Seq(50))
      .collect().head
    assert(big.getLong(1) == 6L && big.getLong(3) == 1000L)
    intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.vocabCoverage(docs, "text", ks = Seq(2, 2))
    }
  }

  test("textTileBlocks: cohesive blocks share a chunk, disjoint blocks split, empty docs vanish") {
    import SparkTestBase.spark.implicits._
    val docs = Seq(
      (1L, "x y z x y z q r s"),  // blocks [xyz][xyz][qrs]: sims 1000, 0
      (2L, "a b"),                // one short block
      (3L, "   "))                // whitespace only: no blocks
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.textTileBlocks(docs, "text", "doc_id",
        blockTokens = 3, minSimPermille = 150L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4), r.getLong(5)))).toMap
    assert(out.size == 4)
    assert(out((1L, 0L)) == ((3L, -1L, true, 1L)))
    assert(out((1L, 1L)) == ((3L, 1000L, false, 1L)))
    assert(out((1L, 2L)) == ((3L, 0L, true, 2L)))
    assert(out((2L, 0L)) == ((2L, -1L, true, 1L)))
    // partial-overlap boundary: blocks [a b c][b c d] share 2 of 4 -> 500
    val mid = graft.ops.TextAnalysis.textTileBlocks(
      Seq((9L, "a b c b c d")).toDF("doc_id", "text"), "text", "doc_id",
      blockTokens = 3, minSimPermille = 600L)
      .collect().map(r => r.getLong(1) -> ((if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(5)))).toMap
    assert(mid(1L) == ((500L, 2L)), s"got $mid")
  }
}
