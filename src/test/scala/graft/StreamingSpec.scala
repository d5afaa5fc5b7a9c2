package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.KafkaSource
import graft.streaming.Windows

/** Streaming-tier operators (watermarked windows, sessions, keyed state)
  * and the Kafka source config mapping (A4/I5).
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  test("stateless curation ops apply to streaming frames unchanged (term filter, bloom gram check)") {
    // The scan-stage curation tier (blocklist matching, Bloom membership,
    // quality metrics...) is stateless, so the BATCH operators run on a
    // streaming frame as-is — no twin needed. This gate pins that: the
    // same filterTermMatches call on a memory stream emits exactly the
    // rows its batch form keeps.
    val input = MemoryStream[(Long, String)](spark, 1)
    val df = input.toDF().toDF("doc_id", "text")
    val filtered = graft.ops.TextAnalysis.filterTermMatches(
      df, "text", terms = Seq("bad phrase", "junk"), minMatches = 1)
    val q = filtered.writeStream.format("memory").queryName("stermf")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (1L, "clean document about spark tables"),
        (2L, "contains a bad phrase right here"),
        (3L, "junk junk junk"),
        (4L, "JUNK uppercase still matches"))
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("stermf").select("doc_id").as[Long].collect().toSet
      val batch = graft.ops.TextAnalysis.filterTermMatches(
        rows.toDF("doc_id", "text"), "text",
        terms = Seq("bad phrase", "junk"), minMatches = 1)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch && streamed == Set(1L))
    } finally q.stop()
  }

  test("stateless text scorers apply to streaming frames unchanged (readability, code signals)") {
    // same contract as the curation gate above, for the round-5 scan-stage
    // scorers: pure projections need no streaming twin — pin it
    val input = MemoryStream[(Long, String)](spark, 1)
    val df = input.toDF().toDF("doc_id", "text")
    val scored = df.select(col("doc_id"),
      graft.ops.TextAnalysis.readability(col("text")).getField("flesch_milli").as("fm"),
      graft.ops.TextAnalysis.codeSignals(col("text")).getField("semi_brace_lines").as("sb"))
    val q = scored.writeStream.format("memory").queryName("sscore")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (1L, "The cat sat. It ran off!"),
        (2L, "val x = 1;\nreturn x;"))
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("sscore").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = rows.toDF("doc_id", "text").select(col("doc_id"),
        graft.ops.TextAnalysis.readability(col("text")).getField("flesch_milli").as("fm"),
        graft.ops.TextAnalysis.codeSignals(col("text")).getField("semi_brace_lines").as("sb"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(streamed.exists(t => t._1 == 1L && t._2 == 119190L))
      assert(streamed.exists(t => t._1 == 2L && t._3 == 2L))
    } finally q.stop()
  }

  test("stateless corruption ops apply to streaming frames unchanged (dropout, span corrupt)") {
    // hash-keyed determinism means the corrupted stream equals the
    // corrupted batch row-for-row — no RNG, no state, no twin needed
    val input = MemoryStream[(Long, String)](spark, 1)
    val df = input.toDF().toDF("doc_id", "text")
    def chain(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Curation.wordDropout(
        graft.ops.Curation.spanCorrupt(d, "doc_id", "text", 300, spanLen = 2)
          .select(col("doc_id"), col("corrupted").as("text")),
        "doc_id", "text", 400)
    val q = chain(df).writeStream.format("memory").queryName("scorrupt")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six seven eight nine ten"))
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("scorrupt").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
      val batch = chain(rows.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("kafka source config: per-env topics, consumer properties, micro-batch shaping (A4/I5)") {
    val spec = graft.spec.StreamSpec.parseUnsafe(
      """{
        |  "namespace": "ks", "streamIdSuffix": "cfg", "version": 1, "description": "...",
        |  "ops": {"microBatch": true, "microBatchSize": 250},
        |  "source": {"type": "kafka", "config": {"customConfig": {
        |    "topics": [
        |      {"env": "all", "names": ["base.topic"]},
        |      {"env": "prod", "topics": ["prod.topic"]},
        |      {"env": "dev", "names": ["dev.topic"]}
        |    ],
        |    "properties": [
        |      {"key": "group.id", "value": "ks-cfg"},
        |      {"key": "auto.offset.reset", "value": "earliest"}
        |    ]}}},
        |  "sink": {"type": "void"}
        |}""".stripMargin)
    val prod = KafkaSource.parseConfig(spec, "prod")
    assert(prod.topics == Seq("base.topic", "prod.topic"))
    val dev = KafkaSource.parseConfig(spec, "dev")
    assert(dev.topics == Seq("base.topic", "dev.topic"))
    assert(prod.options("kafka.group.id") == "ks-cfg")
    assert(prod.options("kafka.auto.offset.reset") == "earliest")
    assert(spec.ops.microBatch && spec.ops.microBatchSize == 250)
  }

  test("streaming dedup drops within-watermark duplicates, state evicts past it") {
    val input = MemoryStream[(java.sql.Timestamp, String)](spark, 1)
    val df = input.toDF().toDF("ts", "k")
    val deduped = Windows.streamingDedup(df, "ts", Seq("k"), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      input.addData((ts(10, 0), "a"), (ts(10, 1), "a"), (ts(10, 2), "b"))
      q.processAllAvailable()
      // duplicate "a" within the horizon dropped
      assert(spark.table("sdedup").select("k").as[String].collect().sorted.toSeq == Seq("a", "b"))
      // advance event time far past the watermark: state for "a" evicted,
      // so a late re-occurrence is a NEW row (dedup horizon, not forever)
      input.addData((ts(12, 0), "c"))
      q.processAllAvailable()
      input.addData((ts(12, 1), "a"))
      q.processAllAvailable()
      assert(spark.table("sdedup").select("k").as[String].collect().sorted.toSeq ==
        Seq("a", "a", "b", "c"))
    } finally q.stop()
  }

  test("streaming near-dedup collapses simhash-identical documents within the watermark") {
    val input = MemoryStream[(java.sql.Timestamp, String)](spark, 1)
    val df = input.toDF().toDF("ts", "text")
    val deduped = Windows.streamingNearDedup(df, "ts", "text", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("sneardedup").outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      val doc = (1 to 40).map(i => s"tok$i").mkString(" ")
      val shuffled = (1 to 40).map(i => s"tok$i").reverse.mkString(" ") // same token bag
      val different = (1 to 40).map(i => s"zzz$i").mkString(" ")
      input.addData((ts(0), doc), (ts(1), shuffled), (ts(2), different))
      q.processAllAvailable()
      // simhash ignores token order: the shuffled doc is a near-dup and drops
      val got = spark.table("sneardedup").select("text").as[String].collect().toSet
      assert(got == Set(doc, different))
      // the fingerprint helper column must not leak into the output schema
      assert(spark.table("sneardedup").columns.toSeq == Seq("ts", "text"))
    } finally q.stop()
  }

  test("streaming incremental dedup: corpus dups anti-join out, stream dups collapse, novel pass") {
    val corpus = Seq((1L, "known document one"), (2L, "known document two"))
      .toDF("doc_id", "text")
    val index = graft.ops.Dedup.exactIndex(corpus, "text", "doc_id")
    val input = MemoryStream[(java.sql.Timestamp, String)](spark, 1)
    val df = input.toDF().toDF("ts", "text")
    val deduped = Windows.streamingIncrementalDedup(df, index, "ts", "text", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("sincdedup").outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData(
        (ts(0), "known document one"), // dup of the static corpus → dropped
        (ts(1), "fresh document"),     // novel → kept
        (ts(2), "fresh document"),     // within-stream dup → dropped
        (ts(3), "another fresh one"))  // novel → kept
      q.processAllAvailable()
      val got = spark.table("sincdedup").select("text").as[String].collect().sorted.toSeq
      assert(got == Seq("another fresh one", "fresh document"))
      assert(spark.table("sincdedup").columns.toSeq == Seq("ts", "text"),
        "digest helper column must not leak")
    } finally q.stop()
  }

  test("streaming incremental NEAR-dedup: banded LSH match against the corpus index drops dups") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different corpus text about distributed query engines and shuffles"))
      .toDF("doc_id", "text")
    val index = graft.ops.Dedup.minhashIndex(corpus, "text", "doc_id")
    val streamed = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank today", // exact corpus dup
      "the quick brown fox jumps over the lazy dog near the river bank now",   // near-dup (one word)
      "an entirely novel document with no relation to anything in the corpus", // novel
      "an entirely novel document with no relation to anything in the corpus", // in-stream dup
      "second novel text mentioning embeddings and tokenizers only")           // novel
    // expected: dropped iff the batch incremental candidate generator finds
    // a corpus match (the shared-semantics law), or an identical signature
    // appeared earlier in the stream
    val batchDf = streamed.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("sid", "text")
    val matched = graft.ops.Dedup.incrementalMinhashCandidates(batchDf, index, "text", "sid")
      .select("batch_id").as[Long].collect().toSet
    val expected = streamed.zipWithIndex.collect {
      case (t, i) if !matched.contains(i.toLong) && streamed.indexOf(t) == i => t
    }.sorted.toSeq
    assert(expected.nonEmpty && expected.size < streamed.size,
      s"fixture must exercise both keep and drop: $expected")

    val input = MemoryStream[(java.sql.Timestamp, String)](spark, 8)
    val df = input.toDF().toDF("ts", "text")
    val deduped = Windows.streamingIncrementalNearDedup(df, index, "ts", "text", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("snear").outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData(streamed.zipWithIndex.map { case (t, i) => (ts(i), t) }: _*)
      q.processAllAvailable()
      val got = spark.table("snear").select("text").as[String].collect().sorted.toSeq
      assert(got == expected)
      assert(spark.table("snear").columns.toSeq == Seq("ts", "text"),
        "signature helper columns must not leak")
    } finally q.stop()
  }

  test("streaming incremental simhash near-dedup: hamming match against the index drops dups") {
    val corpus = Seq(
      (1L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (2L, "completely different corpus text about distributed query engines and shuffles"))
      .toDF("doc_id", "text")
    val index = graft.ops.Dedup.simhashIndex(corpus, "text", "doc_id")
    val streamed = Seq(
      (1 to 40).map(i => s"tok$i").mkString(" "),                 // exact corpus dup
      ((1 to 39).map(i => s"tok$i") :+ "tokX").mkString(" "),     // near-dup of corpus doc 1
      (1 to 40).map(i => s"zzz$i").mkString(" "),                 // novel
      (1 to 40).map(i => s"zzz$i").mkString(" "),                 // in-stream identical dup
      "second novel text mentioning embeddings and tokenizers only")
    // shared-semantics law: dropped iff the batch incremental generator
    // finds a corpus match at the same maxDist, or an identical
    // fingerprint appeared earlier in the stream
    val batchDf = streamed.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("sid", "text")
    val matched = graft.ops.Dedup.incrementalSimhashCandidates(
        batchDf, index, "text", "sid", maxDist = 10, maxBucket = Int.MaxValue)
      .select("batch_id").as[Long].collect().toSet
    val expected = streamed.zipWithIndex.collect {
      case (t, i) if !matched.contains(i.toLong) && streamed.indexOf(t) == i => t
    }.sorted.toSeq
    assert(expected.nonEmpty && expected.size < streamed.size,
      s"fixture must exercise both keep and drop: $expected")

    val input = MemoryStream[(java.sql.Timestamp, String)](spark, 18)
    val df = input.toDF().toDF("ts", "text")
    val deduped = Windows.streamingIncrementalNearDedupSimhash(
      df, index, "ts", "text", "10 minutes", maxDist = 10, maxBucket = Int.MaxValue)
    val q = deduped.writeStream.format("memory").queryName("ssimdedup").outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData(streamed.zipWithIndex.map { case (t, i) => (ts(i), t) }: _*)
      q.processAllAvailable()
      val got = spark.table("ssimdedup").select("text").as[String].collect().sorted.toSeq
      assert(got == expected)
      assert(spark.table("ssimdedup").columns.toSeq == Seq("ts", "text"),
        "fingerprint helper columns must not leak")
    } finally q.stop()
  }

  test("streaming incremental embedding near-dedup: cosine match against the index drops dups") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      .filter(col("vec_id") < 40)
    val index = graft.ops.Dedup.embedIndex(corpus, "vec", "vec_id")
    val c = corpus.collect().map(_.getSeq[Double](1).toArray)
    val streamed: Seq[Array[Double]] = Seq(
      c(3), // exact corpus dup
      c(5).map(_ * 2.0), // scaled copy (cosine ~ 1000) of a corpus vector
      c(7).map(-_), // anti-parallel: cosine -1000, must SURVIVE
      c(7).map(-_), // in-stream identical dup of the survivor
      Array.fill(c(0).length)(0.0)) // zero vector: scores 0, survives
    // shared-semantics law vs the batch generator at probes = 1
    val batchDf = streamed.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("sid", "vec")
    val matched = graft.ops.Dedup.incrementalEmbedCandidates(
        batchDf, index, "vec", "sid", minCosPermille = 990L)
      .select("batch_id").as[Long].collect().toSet
    val expectedIdx = streamed.zipWithIndex.collect {
      case (v, i) if !matched.contains(i.toLong) &&
        streamed.indexWhere(_.sameElements(v)) == i => i.toLong
    }
    assert(expectedIdx.nonEmpty && expectedIdx.size < streamed.size,
      s"fixture must exercise both keep and drop: $expectedIdx")

    val input = MemoryStream[(java.sql.Timestamp, Long, Array[Double])](spark, 28)
    val df = input.toDF().toDF("ts", "sid", "vec")
    val deduped = Windows.streamingIncrementalEmbedDedup(
      df, index, "ts", "vec", "10 minutes", minCosPermille = 990L)
    val q = deduped.writeStream.format("memory").queryName("sembdedup").outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData(streamed.zipWithIndex.map { case (v, i) => (ts(i), i.toLong, v) }: _*)
      q.processAllAvailable()
      val got = spark.table("sembdedup").select("sid").as[Long].collect().sorted.toSeq
      assert(got == expectedIdx.sorted.toSeq, s"got $got expected $expectedIdx")
      assert(spark.table("sembdedup").columns.toSeq == Seq("ts", "sid", "vec"),
        "quantization helper columns must not leak")
    } finally q.stop()
  }

  test("streamingActiveActors: windowed sketch counts track the exact batch twin") {
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark, 38)
    val df = input.toDF().toDF("ts", "uid")
    val agg = Windows.streamingActiveActors(df, "ts", "uid", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("sactive").outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // window [10:00,10:10): uids 1,1,2,3 -> 4 events, 3 actors
      // window [10:10,10:20): uid 1 -> 1 event, 1 actor
      input.addData((ts(1), 1L), (ts(2), 1L), (ts(3), 2L), (ts(9), 3L), (ts(11), 1L))
      q.processAllAvailable()
      val got = spark.table("sactive").collect()
        .map(r => (r.getAs[java.sql.Timestamp](0).toString,
          r.getLong(2), r.getLong(3))).toSet
      // at tiny cardinalities the HLL++ sketch is exact
      assert(got == Set(("2024-01-01 10:00:00.0", 4L, 3L),
        ("2024-01-01 10:10:00.0", 1L, 1L)), s"got $got")
      // batch twin agreement on the same rows (sketch exact at this size)
      val batch = graft.ops.Temporal.activeActors(
        Seq((60L, 1L), (120L, 1L), (180L, 2L), (540L, 3L), (660L, 1L))
          .toDF("ts_us", "uid"), "ts_us", "uid", windowMs = 600L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch == Set((0L, 4L, 3L), (600L, 1L, 1L)))
    } finally q.stop()
  }

  test("streamingCalibration: per-window reliability buckets equal the batch auditor per slice") {
    val input = MemoryStream[(java.sql.Timestamp, Long, Option[Long])](spark, 48)
    val df = input.toDF().toDF("ts", "score", "label")
    val agg = Windows.streamingCalibration(df, "ts", "score", "label", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("scalib")
      .outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // window A [10:00,10:10): bucket0 {(50,0),(80,1)}, bucket9 {(950,1)}
      // window B [10:10,10:20): bucket0 {(90,1)}, plus two poison rows the
      // twin must absorb without raising: a NULL label (dropped) and an
      // out-of-range score 1500 (its own bucket 15)
      val rowsA = Seq((ts(1), 50L, Some(0L)), (ts(2), 80L, Some(1L)), (ts(3), 950L, Some(1L)))
      val rowsB = Seq((ts(11), 90L, Some(1L)), (ts(12), 300L, None), (ts(13), 1500L, Some(1L)))
      input.addData(rowsA ++ rowsB: _*)
      q.processAllAvailable()
      val got = spark.table("scalib").collect()
        .map(r => (r.getAs[java.sql.Timestamp](0).toString, r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
        .toSet
      assert(got == Set(
        ("2024-01-01 10:00:00.0", 0L, 2L, 1L, 65L, 500L, 435L),
        ("2024-01-01 10:00:00.0", 9L, 1L, 1L, 950L, 1000L, 50L),
        ("2024-01-01 10:10:00.0", 0L, 1L, 1L, 90L, 1000L, 910L),
        ("2024-01-01 10:10:00.0", 15L, 1L, 1L, 1500L, 1000L, -500L)), s"got $got")
      // per-window slices equal the batch auditor on the same rows
      val batchA = graft.ops.Profile.calibrationAudit(
        rowsA.map(t => (t._2, t._3)).toDF("score", "label"), "score", "label")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(batchA == Set((0L, 2L, 1L, 65L, 500L, 435L),
        (9L, 1L, 1L, 950L, 1000L, 50L)))
    } finally q.stop()
  }

  test("streamingDistributionDrift: per-window KS/EMD vs frozen reference, stream == batch twin") {
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark, 49)
    val df = input.toDF().toDF("ts", "v")
    // 4 buckets over [0, 100), uniform 250-permille reference
    val agg = Windows.streamingDistributionDrift(df, "ts", "v",
      referenceShares = Seq(250L, 250L, 250L, 250L), "10 minutes", lo = 0L, hi = 100L)
    val q = agg.writeStream.format("memory").queryName("sdrift")
      .outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // window A: all 4 values in bucket 0 -> CDF (1,1,1,1) vs ref
      // (.25,.5,.75,1): xs = .75,.5,.25,0 of tot*1e6 -> ks=750000,
      // emd=1500000; window B: perfectly uniform -> 0 drift
      input.addData(Seq((ts(1), 5L), (ts(2), 10L), (ts(3), 20L), (ts(4), 24L),
        (ts(11), 5L), (ts(12), 30L), (ts(13), 55L), (ts(14), 80L)): _*)
      q.processAllAvailable()
      val got = spark.table("sdrift").collect()
        .map(r => (r.getAs[java.sql.Timestamp](0).toString, r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == Set(
        ("2024-01-01 10:00:00.0", 4L, 750000L, 1500000L),
        ("2024-01-01 10:10:00.0", 4L, 0L, 0L)), s"got $got")
      // the batch-mode run of the same code path agrees row-for-row
      val batch = Windows.streamingDistributionDrift(
        spark.table("sdrift").sparkSession.createDataFrame(Seq(
          (ts(1), 5L), (ts(2), 10L), (ts(3), 20L), (ts(4), 24L),
          (ts(11), 5L), (ts(12), 30L), (ts(13), 55L), (ts(14), 80L)))
          .toDF("ts", "v"),
        "ts", "v", Seq(250L, 250L, 250L, 250L), "10 minutes", 0L, 100L)
        .collect().map(r => (r.getAs[java.sql.Timestamp](0).toString,
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("streamingPassAtK: per-window estimator over a memory stream, stream == batch twin") {
    val input = MemoryStream[(java.sql.Timestamp, Long, Boolean)](spark, 51)
    val df = input.toDF().toDF("ts", "problem", "passed")
    val agg = Windows.streamingPassAtK(df, "ts", "problem", "passed",
      ks = Seq(1, 2), windowDuration = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("spassk")
      .outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // window A, problem 1: n=5 c=2 -> pass@1=400000, pass@2=700000;
      // window B, problem 1: n=1 c=0 -> pass@1=0, pass@2=NULL (k>n)
      val rows = Seq(
        (ts(1), 1L, true), (ts(2), 1L, true), (ts(3), 1L, false),
        (ts(4), 1L, false), (ts(5), 1L, false),
        (ts(11), 1L, false))
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("spassk").collect()
        .map(r => (r.getAs[java.sql.Timestamp](0).toString, r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) -1L else r.getLong(6))).toSet
      assert(got == Set(
        ("2024-01-01 10:00:00.0", 1L, 5L, 2L, 1L, 400000L),
        ("2024-01-01 10:00:00.0", 1L, 5L, 2L, 2L, 700000L),
        ("2024-01-01 10:10:00.0", 1L, 1L, 0L, 1L, 0L),
        ("2024-01-01 10:10:00.0", 1L, 1L, 0L, 2L, -1L)), s"got $got")
      // batch-mode run of the same code path agrees row-for-row
      val batch = Windows.streamingPassAtK(rows.toDF("ts", "problem", "passed"),
        "ts", "problem", "passed", ks = Seq(1, 2), windowDuration = "10 minutes")
        .collect().map(r => (r.getAs[java.sql.Timestamp](0).toString, r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) -1L else r.getLong(6))).toSet
      assert(batch == got)
      // each window's rows equal the batch operator over that window's slice
      for ((start, slice) <- Seq("2024-01-01 10:00:00.0" -> rows.filter(_._1.before(ts(10))),
          "2024-01-01 10:10:00.0" -> rows.filterNot(_._1.before(ts(10))))) {
        val perSlice = graft.ops.EvalMetrics.passAtK(
          slice.toDF("ts", "problem", "passed"), "problem", "passed", ks = Seq(1, 2))
          .collect().map(r => (start, r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
        assert(perSlice == got.filter(_._1 == start), s"window $start")
      }
    } finally q.stop()
  }

  test("streamingSelfConsistency: wide-pivot majority vote, stream == batch twin == batch operator") {
    val input = MemoryStream[(java.sql.Timestamp, Long, Option[Long])](spark, 52)
    val df = input.toDF().toDF("ts", "problem", "answer")
    val agg = Windows.streamingSelfConsistency(df, "ts", "problem", "answer",
      nAnswers = 5, windowDuration = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("sselfcons")
      .outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // window A, problem 1: votes 2,2,3 -> majority 2 (2/3);
      // window A, problem 2: tie 1 vs 3 -> smallest answer wins;
      // window B, problem 1: one abstention (NULL) + one vote 4;
      // window B, problem 3: only abstentions/out-of-domain -> NO row
      val rows = Seq(
        (ts(1), 1L, Some(2L)), (ts(2), 1L, Some(2L)), (ts(3), 1L, Some(3L)),
        (ts(4), 2L, Some(3L)), (ts(5), 2L, Some(1L)),
        (ts(11), 1L, None: Option[Long]), (ts(12), 1L, Some(4L)),
        (ts(13), 3L, None: Option[Long]), (ts(14), 3L, Some(9L)))
      input.addData(rows: _*)
      q.processAllAvailable()
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
        (r.getAs[java.sql.Timestamp](0).toString, r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).toSet
      val got = shape(spark.table("sselfcons").collect())
      assert(got == Set(
        ("2024-01-01 10:00:00.0", 1L, 2L, 2L, 3L, 666L),
        ("2024-01-01 10:00:00.0", 2L, 1L, 1L, 2L, 500L),
        ("2024-01-01 10:10:00.0", 1L, 4L, 1L, 1L, 1000L)), s"got $got")
      // batch-mode run of the same code path agrees row-for-row
      val batchTwin = shape(Windows.streamingSelfConsistency(
        rows.toDF("ts", "problem", "answer"), "ts", "problem", "answer",
        nAnswers = 5, windowDuration = "10 minutes").collect())
      assert(batchTwin == got)
      // and the window-A slice matches the BATCH operator exactly
      // (majority, count, share — the promotion parity law); the batch
      // operator has no domain bound, so restrict to in-domain rows
      val batchOp = graft.ops.EvalMetrics.selfConsistency(
        rows.filter(_._1.getTime < ts(10).getTime)
          .toDF("ts", "problem", "answer").drop("ts"),
        "problem", "answer").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val winA = got.filter(_._1 == "2024-01-01 10:00:00.0")
        .map { case (_, p, a, nm, n, pm) => (p, a, nm, n, pm) }
      assert(batchOp == winA, s"batch $batchOp vs stream $winA")
    } finally q.stop()
  }

  test("streamingCorpusBleu: windowed pool over a memory stream == batch corpusBleu per window") {
    val input = MemoryStream[(java.sql.Timestamp, String, String)](spark, 53)
    val df = input.toDF().toDF("ts", "cand", "ref")
    val agg = Windows.streamingCorpusBleu(df, "ts", "cand", "ref",
      windowDuration = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("sbleu")
      .outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // window A: an identity pair + a clip-exercising pair;
      // window B: one short pair (no 4-grams -> pooled geo NULL)
      val winA = Seq(
        ("a b c d e", "a b c d e"),
        ("the cat the cat x", "the cat sat on the mat"))
      val winB = Seq(("x y", "x y"))
      input.addData(winA.map { case (c, r) => (ts(1), c, r) } ++
        winB.map { case (c, r) => (ts(11), c, r) }: _*)
      q.processAllAvailable()
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
        (r.getAs[java.sql.Timestamp](0).toString, r.toSeq.drop(2))).toMap
      val got = shape(spark.table("sbleu").collect())
      assert(got.keySet ==
        Set("2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0"))
      // each window equals the BATCH corpus number over its pairs
      // (truncation is a no-op at these lengths, so the distributed
      // kernel is the comparable oracle)
      def batchCorpus(pairs: Seq[(String, String)]) =
        graft.ops.EvalMetrics.corpusBleu(graft.ops.EvalMetrics.bleuComponents(
          pairs.zipWithIndex.map { case ((c, r), i) => (i.toLong, c, r) }
            .toDF("pair_id", "cand", "ref"),
          "pair_id", "cand", "ref")).collect().head.toSeq
      assert(got("2024-01-01 10:00:00.0") == batchCorpus(winA))
      assert(got("2024-01-01 10:10:00.0") == batchCorpus(winB))
      // pooled geo for window B is NULL (no 4-grams anywhere)
      assert(got("2024-01-01 10:10:00.0").last == null)
      // batch-mode run of the same code path agrees row-for-row
      val batchTwin = shape(Windows.streamingCorpusBleu(
        (winA.map { case (c, r) => (ts(1), c, r) } ++
          winB.map { case (c, r) => (ts(11), c, r) })
          .toDF("ts", "cand", "ref"),
        "ts", "cand", "ref", windowDuration = "10 minutes").collect())
      assert(batchTwin == got)
    } finally q.stop()
  }

  test("streamingNovelty: stream-static membership + windowed pool, stream == batch twin") {
    val index = graft.ops.EvalMetrics.noveltyIndex(
      Seq("a b c").toDF("text"), "text", maxN = 2)
    // ref sets: n1 {a, b, c}; n2 {"a b", "b c"}
    val input = MemoryStream[(java.sql.Timestamp, String)](spark, 54)
    val df = input.toDF().toDF("ts", "text")
    val agg = Windows.streamingNovelty(df, "ts", "text", index,
      windowDuration = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("snovel")
      .outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // window A: "a b x" (n1: 1/3 novel, n2: "b x" novel of 2)
      //           "c c"   (n1: 0/2 novel, n2: "c c" novel of 1)
      // window B: "z"     (n1: 1/1 novel; no bigram -> no n2 row)
      val rows = Seq((ts(1), "a b x"), (ts(2), "c c"), (ts(11), "z"))
      input.addData(rows: _*)
      q.processAllAvailable()
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
        (r.getAs[java.sql.Timestamp](0).toString, r.getLong(2)) ->
          (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val got = shape(spark.table("snovel").collect())
      assert(got == Map(
        ("2024-01-01 10:00:00.0", 1L) -> ((5L, 1L, 200L)),
        ("2024-01-01 10:00:00.0", 2L) -> ((3L, 2L, 666L)),
        ("2024-01-01 10:10:00.0", 1L) -> ((1L, 1L, 1000L))), s"got $got")
      val batchTwin = shape(Windows.streamingNovelty(
        rows.toDF("ts", "text"), "ts", "text", index,
        windowDuration = "10 minutes").collect())
      assert(batchTwin == got)
    } finally q.stop()
  }

  test("streamingNovelty: a duplicated reference gram cannot inflate totals (index dedup)") {
    // a malformed index frame (the case class's entries are
    // caller-suppliable, e.g. re-read from a table): the gram "a"
    // appears TWICE on the static side. Without the defensive dedup the
    // left-outer membership join would emit two rows for every stream
    // instance of "a", inflating total_grams (5 -> 6 here) and shifting
    // novelty_permille silently.
    val dup = graft.ops.EvalMetrics.NoveltyIndex(
      Seq((1L, "a"), (1L, "a"), (1L, "b"), (1L, "c"))
        .toDF("n", "gram"), maxN = 1)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val rows = Seq((ts(1), "a b x"), (ts(2), "a a"))
    val got = Windows.streamingNovelty(rows.toDF("ts", "text"),
      "ts", "text", dup, windowDuration = "10 minutes")
      .select("n", "total_grams", "novel_grams", "novelty_permille")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // 5 unigram instances (a, b, x, a, a), exactly 1 novel (x)
    assert(got == Set((1L, 5L, 1L, 200L)), s"got $got")
  }

  test("streamingPairedDelta: windowed A/B comparison over a memory stream == batch twin; fractional metrics fail loudly") {
    val input = MemoryStream[(java.sql.Timestamp, java.lang.Long, java.lang.Long)](spark, 56)
    val df = input.toDF().toDF("ts", "ma", "mb")
    val agg = Windows.streamingPairedDelta(df, "ts", "ma", "mb",
      windowDuration = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("spd")
      .outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // window A: deltas +5, -2, 0 and one abstention (NULL a-side)
      // window B: one pair, delta -7
      val rows = Seq(
        (ts(1), Long.box(10L), Long.box(5L)),
        (ts(2), Long.box(3L), Long.box(5L)),
        (ts(3), Long.box(4L), Long.box(4L)),
        (ts(4), null.asInstanceOf[java.lang.Long], Long.box(9L)),
        (ts(11), Long.box(1L), Long.box(8L)))
      input.addData(rows: _*)
      q.processAllAvailable()
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
        r.getAs[java.sql.Timestamp](0).toString -> r.toSeq.drop(2)).toMap
      val got = shape(spark.table("spd").collect())
      assert(got("2024-01-01 10:00:00.0") ==
        Seq(3L, 1L, 1L, 1L, 3L, 1000L), s"got $got")
      assert(got("2024-01-01 10:10:00.0") ==
        Seq(1L, 0L, 1L, 0L, -7L, -7000L), s"got $got")
      val batchTwin = shape(Windows.streamingPairedDelta(
        rows.toDF("ts", "ma", "mb"), "ts", "ma", "mb",
        windowDuration = "10 minutes").collect())
      assert(batchTwin == got)
    } finally q.stop()
    // fractional metric: the batch-mode run raises instead of truncating
    val e = intercept[Exception] {
      Windows.streamingPairedDelta(
        Seq((java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 1.5, 2.0))
          .toDF("ts", "ma", "mb"),
        "ts", "ma", "mb", windowDuration = "10 minutes").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("must be integral"), s"got: $msgs")
  }

  test("streamingSeqRep: pooled within-doc repetition per window, stream == batch twin") {
    val input = MemoryStream[(java.sql.Timestamp, String)](spark, 55)
    val df = input.toDF().toDF("ts", "text")
    val agg = Windows.streamingSeqRep(df, "ts", "text",
      windowDuration = "10 minutes", maxN = 2)
    val q = agg.writeStream.format("memory").queryName("srep")
      .outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // window A: "a a b" (n1 3/2, n2 2/2) + "x x x x" (n1 4/1, n2 3/1)
      //   pooled: n1 7 total / 3 distinct -> rep 572; n2 5/3 -> rep 400
      // window B: "z" -> n1 1/1 rep 0; no n2 row
      val rows = Seq((ts(1), "a a b"), (ts(2), "x x x x"), (ts(11), "z"))
      input.addData(rows: _*)
      q.processAllAvailable()
      def shape(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
        (r.getAs[java.sql.Timestamp](0).toString, r.getLong(2)) ->
          (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      val got = shape(spark.table("srep").collect())
      assert(got == Map(
        ("2024-01-01 10:00:00.0", 1L) -> ((2L, 7L, 3L, 572L)),
        ("2024-01-01 10:00:00.0", 2L) -> ((2L, 5L, 3L, 400L)),
        ("2024-01-01 10:10:00.0", 1L) -> ((1L, 1L, 1L, 0L))), s"got $got")
      val batchTwin = shape(Windows.streamingSeqRep(
        rows.toDF("ts", "text"), "ts", "text",
        windowDuration = "10 minutes", maxN = 2).collect())
      assert(batchTwin == got)
    } finally q.stop()
  }

  test("watermarked windowed aggregation over a memory stream") {
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark, 1)
    val df = input.toDF().toDF("ts", "key", "v")
    val agg = Windows.windowedAgg(df, "ts", "key", "v", "10 minutes", watermark = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("winagg").outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(11), "a", 4.0), (ts(3), "b", 8.0))
      q.processAllAvailable()
      val rows = spark.table("winagg").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString, r.getString(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "a", 2L, 3.0),
        ("2024-01-01 10:10:00.0", "a", 1L, 4.0),
        ("2024-01-01 10:00:00.0", "b", 1L, 8.0)))
    } finally q.stop()
  }

  test("streaming corpus monitor: windowed volume/quality/empty counters over a memory stream") {
    val input = MemoryStream[(java.sql.Timestamp, String, String)](spark, 1)
    val df = input.toDF().toDF("ts", "lang", "text")
    val mon = Windows.streamingCorpusMonitor(df, "ts", "text", "lang",
      "10 minutes", keep = length(col("text")) >= 10, watermark = "5 minutes")
    val q = mon.writeStream.format("memory").queryName("corpmon")
      .outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData(
        (ts(1), "en", "one two three four"),   // 4 tokens, kept
        (ts(2), "en", "short doc"),            // 2 tokens, dropped (len 9)
        (ts(3), "en", ""),                     // empty
        (ts(11), "en", "in the next window"),  // window 2
        (ts(4), "de", "eins zwei drei vier fünf"))
      q.processAllAvailable()
      val rows = spark.table("corpmon").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString, r.getString(2)) ->
          (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      // (n_docs, n_tokens, n_kept, n_empty)
      assert(rows(("2024-01-01 10:00:00.0", "en")) == (3L, 6L, 1L, 1L))
      assert(rows(("2024-01-01 10:10:00.0", "en")) == (1L, 4L, 1L, 0L))
      assert(rows(("2024-01-01 10:00:00.0", "de")) == (1L, 5L, 1L, 0L))
      // distinct-digest estimate is exact at these cardinalities
      val en1 = spark.table("corpmon").collect()
        .find(r => r.getString(2) == "en" &&
          r.getAs[java.sql.Timestamp]("window_start").toString == "2024-01-01 10:00:00.0").get
      assert(en1.getLong(7) == 3L)
    } finally q.stop()
    // the same call on a closed batch frame yields identical counters
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val batch = Seq(
      (ts(1), "en", "one two three four"), (ts(2), "en", "short doc"),
      (ts(3), "en", ""), (ts(11), "en", "in the next window"),
      (ts(4), "de", "eins zwei drei vier fünf")).toDF("ts", "lang", "text")
    val b = Windows.streamingCorpusMonitor(batch, "ts", "text", "lang",
      "10 minutes", keep = length(col("text")) >= 10)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(b == Set(
      ("2024-01-01 10:00:00.0", "en", 3L, 6L, 1L, 1L),
      ("2024-01-01 10:10:00.0", "en", 1L, 4L, 1L, 0L),
      ("2024-01-01 10:00:00.0", "de", 1L, 5L, 1L, 0L)))
  }

  test("session windows group by gap") {
    val rows = Seq(
      ("2024-01-01 10:00:00", "u1"), ("2024-01-01 10:02:00", "u1"), // session 1
      ("2024-01-01 10:30:00", "u1"), // session 2 (gap > 5 min)
      ("2024-01-01 10:00:00", "u2"))
      .toDF("s", "user").select(to_timestamp(col("s")).as("ts"), col("user"))
    val out = Windows.sessionAgg(rows, "ts", "user", "5 minutes").collect()
    assert(out.length == 3)
    val u1 = out.filter(_.getString(2) == "u1").map(_.getLong(3)).sorted.toSeq
    assert(u1 == Seq(1L, 2L))
  }

  test("streaming rolling: trailing sums across micro-batches, ties are peers") {
    val input = MemoryStream[Windows.RollEvent](spark, 3)
    val out = Windows.streamingRolling(input.toDS(), windowMs = 10 * 60 * 1000,
      watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("sroll").outputMode("append").start()
    try {
      def ev(k: String, m: Int, v: Long) =
        Windows.RollEvent(k, java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), v)
      input.addData(ev("a", 0, 1), ev("a", 5, 2), ev("a", 5, 4)) // tie at 10:05
      q.processAllAvailable()
      input.addData(ev("a", 12, 8), ev("b", 12, 100)) // crosses batches; 10:00 ages out
      q.processAllAvailable()
      val got = spark.table("sroll").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(3), r.getLong(4)))
        .toSet
      assert(got == Set(
        ("a", "2024-01-01 10:00:00.0", 1L, 1L),
        // both tie rows see the full peer set {1, 2, 4} (RANGE-frame law)
        ("a", "2024-01-01 10:05:00.0", 7L, 3L),
        // at 10:12 the 10:00 row is outside [10:02, 10:12]; state carried
        // the 10:05 pair across the batch boundary
        ("a", "2024-01-01 10:12:00.0", 14L, 3L),
        ("b", "2024-01-01 10:12:00.0", 100L, 1L)))
    } finally q.stop()
  }

  test("streaming rolling equals the batch operator on closed in-order history") {
    val events = Seq(
      ("a", 0, 1L), ("a", 5, 2L), ("a", 5, 4L), ("a", 12, 8L), ("a", 40, 16L),
      ("b", 3, 32L), ("b", 7, 64L))
      .map { case (k, m, v) =>
        Windows.RollEvent(k, java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), v) }
    val stream = Windows.streamingRolling(events.toDS(), windowMs = 10 * 60 * 1000)
      .collect().map(r => (r.key, r.ts.getTime, r.value, r.wsum, r.w_n)).toSet
    val batchIn = events.toDF().select(col("key"),
      col("ts").cast("long").*(1000).as("t_ms"), col("value"))
    val batch = graft.ops.Temporal.rolling(batchIn, Seq("key"), "t_ms",
      window = 10 * 60 * 1000, valueCol = "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(stream == batch)
  }

  test("streaming interval join: overlapping intervals pair across two streams") {
    val lIn = MemoryStream[(java.sql.Timestamp, java.sql.Timestamp, String, String)](spark, 4)
    val rIn = MemoryStream[(java.sql.Timestamp, java.sql.Timestamp, String, String)](spark, 5)
    val l = lIn.toDF().toDF("ls", "le", "k", "lid")
    val r = rIn.toDF().toDF("rs", "re", "k", "rid")
    val joined = Windows.streamingIntervalJoin(l, "ls", "le", r, "rs", "re",
      keyCols = Seq("k"), maxLength = "30 minutes", watermark = "1 hour")
    val q = joined.writeStream.format("memory").queryName("sivj").outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // L1 [00,10] overlaps R1 [05,15]; L2 [20,25] overlaps nothing;
      // R2 [26,40] overlaps L3 [39,45]; key mismatch never pairs
      lIn.addData((ts(0), ts(10), "k1", "L1"), (ts(20), ts(25), "k1", "L2"),
        (ts(39), ts(45), "k1", "L3"), (ts(0), ts(59), "k2", "L4"))
      rIn.addData((ts(5), ts(15), "k1", "R1"), (ts(26), ts(40), "k1", "R2"),
        (ts(5), ts(6), "kX", "R3"))
      q.processAllAvailable()
      val got = spark.table("sivj")
        .select("lid", "r_rid").collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("L1", "R1"), ("L3", "R2")))
      // L4's 59-minute interval exceeds maxLength and is dropped (documented
      // contract), so kX/k2 rows never appear
    } finally q.stop()
  }

  test("streaming as-of join: watermark-gated emission, latest right <= left wins") {
    val lIn = MemoryStream[Windows.AsofLeft](spark, 6)
    val rIn = MemoryStream[Windows.AsofRight](spark, 7)
    val out = Windows.streamingAsof(lIn.toDS(), rIn.toDS(),
      toleranceMs = None, watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("sasof").outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // batch 1: rights at 10:00(v=1),10:08(v=2); lefts at 10:05, 10:08
      rIn.addData(Windows.AsofRight("a", ts(0), 1), Windows.AsofRight("a", ts(8), 2))
      lIn.addData(Windows.AsofLeft("a", ts(5), 50), Windows.AsofLeft("a", ts(8), 51))
      q.processAllAvailable()
      // nothing final yet (watermark still behind the lefts); push the
      // watermark past them with a later right event
      rIn.addData(Windows.AsofRight("a", ts(30), 3))
      q.processAllAvailable()
      // the finalizing emission rides the post-watermark-advance batch
      // (event-time timeout); poll rather than assume batch scheduling
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("sasof").count() < 2 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      val got = spark.table("sasof").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2),
          Option(r.getTimestamp(3)).map(_.toString), Option(r.get(4)).map(_.asInstanceOf[Long])))
        .toSet
      assert(got == Set(
        ("a", "2024-01-01 10:05:00.0", 50L, Some("2024-01-01 10:00:00.0"), Some(1L)),
        // same-timestamp right (10:08) matches backward as-of, like the batch op
        ("a", "2024-01-01 10:08:00.0", 51L, Some("2024-01-01 10:08:00.0"), Some(2L))))
    } finally q.stop()
  }

  test("streaming as-of equals the batch asofJoin on closed history (incl. tolerance)") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val lefts = Seq(("a", 5, 50L), ("a", 8, 51L), ("a", 20, 52L), ("b", 3, 53L), ("c", 1, 54L))
      .map { case (k, m, v) => Windows.AsofLeft(k, ts(m), v) }
    val rights = Seq(("a", 0, 1L), ("a", 8, 2L), ("a", 8, 7L), ("a", 19, 4L), ("b", 9, 5L))
      .map { case (k, m, v) => Windows.AsofRight(k, ts(m), v) }
    for (tol <- Seq(None, Some(4L * 60 * 1000))) {
      val stream = Windows.streamingAsof(lefts.toDS(), rights.toDS(), toleranceMs = tol)
        .collect().map(o => (o.key, o.ts.getTime, o.value,
          o.r_ts.map(_.getTime), o.r_value)).toSet
      val batchL = lefts.toDF().select(col("key"), col("ts").cast("long").*(1000).as("t"), col("value"))
      val batchR = rights.toDF().select(col("key"), col("ts").cast("long").*(1000).as("t"), col("rvalue"))
      val batch = graft.ops.Temporal.asofJoin(batchL, batchR, Seq("key"), "t",
        direction = "backward", joinType = "left", tolerance = tol)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
      assert(stream == batch, s"tolerance=$tol")
    }
  }

  test("streaming interval join equals the batch operator on closed history") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val l = Seq((ts(0), ts(10), "k1", "L1"), (ts(20), ts(25), "k1", "L2"),
      (ts(39), ts(45), "k1", "L3"), (ts(8), ts(9), "k2", "L4"))
      .toDF("ls", "le", "k", "lid")
    val r = Seq((ts(5), ts(15), "k1", "R1"), (ts(26), ts(40), "k1", "R2"),
      (ts(7), ts(12), "k2", "R3")).toDF("rs", "re", "k", "rid")
    val stream = Windows.streamingIntervalJoin(l, "ls", "le", r, "rs", "re",
      Seq("k"), maxLength = "30 minutes")
      .select("lid", "r_rid").collect().map(x => (x.getString(0), x.getString(1))).toSet
    val lMs = l.select(col("k"), col("lid"),
      col("ls").cast("long").*(1000).as("ls"), col("le").cast("long").*(1000).as("le"))
    val rMs = r.select(col("k"), col("rid"),
      col("rs").cast("long").*(1000).as("rs"), col("re").cast("long").*(1000).as("re"))
    val batch = graft.ops.Temporal.intervalJoin(lMs, "ls", "le", rMs, "rs", "re",
      keyCols = Seq("k"), bucketWidth = 5 * 60 * 1000)
      .select("lid", "r_rid").collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(stream == batch)
  }

  test("flatMapGroupsWithState keyed running totals across batches") {
    val input = MemoryStream[Windows.KeyedEvent](spark, 2)
    val out = Windows.runningTotals(input.toDS())
    val q = out.writeStream.format("memory").queryName("running").outputMode("append").start()
    try {
      def ev(k: String, v: Double) = Windows.KeyedEvent(k, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), v)
      input.addData(ev("a", 1.0), ev("a", 2.0), ev("b", 5.0))
      q.processAllAvailable()
      input.addData(ev("a", 4.0))
      q.processAllAvailable()
      val res = spark.table("running").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      // state persists across micro-batches: a reaches n=3 total=7
      assert(res.contains(("a", 3L, 7.0)))
      assert(res.contains(("b", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming resample: buckets close at the watermark, gap ticks emit LOCF") {
    val input = MemoryStream[Windows.GridEvent](spark, 5)
    val out = Windows.streamingResample(input.toDS(), gridStepMs = 10 * 60 * 1000,
      watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("sgrid").outputMode("append").start()
    try {
      def ev(k: String, m: Int, v: Long) =
        Windows.GridEvent(k, java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), v)
      val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
      // obs in buckets 00 and 20; watermark reaches 10:20 → buckets 00
      // and 10 (gap) close
      input.addData(ev("a", 0, 1), ev("a", 25, 5))
      q.processAllAvailable()
      def got() = spark.table("sgrid").collect()
        .map(r => (r.getString(0), (r.getLong(1) - base) / 60000, r.getLong(2), r.getLong(3)))
        .toSet
      assert(got() == Set(("a", 0L, 1L, 1L), ("a", 10L, 1L, 0L)))
      // watermark advances past 10:30 → bucket 20 (obs 5) and 30 (gap) close
      input.addData(ev("a", 45, 9))
      q.processAllAvailable()
      assert(got() == Set(("a", 0L, 1L, 1L), ("a", 10L, 1L, 0L),
        ("a", 20L, 5L, 1L), ("a", 30L, 5L, 0L)))
    } finally q.stop()
  }

  test("streaming resample on a closed batch equals the batch operator") {
    val events = Seq(("a", 3, 100L), ("a", 7, 150L), ("a", 34, 400L), ("b", 25, 900L))
      .map { case (k, m, v) =>
        Windows.GridEvent(k, java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), v) }
    val stream = Windows.streamingResample(events.toDS(), gridStepMs = 10 * 60 * 1000)
      .collect().map(o => (o.key, o.tick, o.value, o.n_obs)).toSet
    val batchIn = events.toDF().select(col("key"),
      col("ts").cast("long").*(1000).as("t_ms"), col("value"))
    val batch = graft.ops.Temporal.resample(batchIn, Seq("key"), "t_ms", "value",
      gridStep = 10 * 60 * 1000)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stream == batch && stream.nonEmpty)
  }

  test("streaming journey match: fires once on completion; late event completes adjacency") {
    val input = MemoryStream[Windows.JourneyEvent](spark, 4)
    val out = Windows.streamingJourneyMatch(input.toDS(), ".*click>purchase.*",
      watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("sjourney").outputMode("append").start()
    try {
      def ev(k: String, m: Int, id: Long, t: String) =
        Windows.JourneyEvent(k, java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), id, t)
      // u1 no match yet; u2's purchase arrives BEFORE its click
      input.addData(ev("u1", 0, 1, "view"), ev("u1", 2, 2, "click"),
        ev("u2", 5, 3, "purchase"))
      q.processAllAvailable()
      assert(spark.table("sjourney").isEmpty)
      // u1 completes; u2's click arrives late (ts before the purchase) and
      // must sort into place to complete click>purchase
      input.addData(ev("u1", 4, 4, "purchase"), ev("u2", 3, 5, "click"))
      q.processAllAvailable()
      val got = spark.table("sjourney").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == Map("u1" -> "view>click>purchase", "u2" -> "click>purchase"))
      // a matched key never fires again
      input.addData(ev("u1", 6, 6, "click"), ev("u1", 7, 7, "purchase"))
      q.processAllAvailable()
      assert(spark.table("sjourney").count() == 2)
    } finally q.stop()
  }

  test("streaming journey match on a closed batch equals the batch operator's matches") {
    val events = Seq(
      ("u1", 0, 1L, "view"), ("u1", 2, 2L, "click"), ("u1", 4, 3L, "purchase"),
      ("u2", 0, 4L, "click"), ("u2", 2, 5L, "view"), ("u2", 4, 6L, "purchase"))
      .map { case (k, m, id, t) =>
        Windows.JourneyEvent(k, java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), id, t) }
    val stream = Windows.streamingJourneyMatch(events.toDS(), ".*click>purchase.*")
      .collect().map(h => h.key -> h.journey).toMap
    val batchIn = events.toDF().select(col("key"),
      col("ts").cast("long").as("t_s"), col("id"), col("typ"))
    val batch = graft.ops.Temporal.journeyMatch(batchIn, Seq("key"), "t_s", "id", "typ",
      ".*click>purchase.*").where(col("is_match"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(stream == batch && stream == Map("u1" -> "view>click>purchase"))
  }

  test("streaming trending: top-k ranks emit once, when the watermark closes the window") {
    val input = MemoryStream[Windows.TrendEvent](spark, 6)
    val out = Windows.streamingTrending(input.toDS(),
      windowMs = 10 * 60 * 1000, k = 2, watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("strend")
      .outputMode("append").start()
    try {
      def ev(m: Int, item: String) = Windows.TrendEvent(
        java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), item)
      val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
      input.addData(ev(0, "a"), ev(1, "a"), ev(2, "b"), ev(3, "b"),
        ev(4, "b"), ev(5, "c"))
      q.processAllAvailable()
      // window [10:00, 10:10) still open: ranking may not emit early
      assert(spark.table("strend").count() == 0)
      input.addData(ev(25, "z")) // watermark → 10:20, closes the window
      q.processAllAvailable()
      val got = spark.table("strend").collect()
        .map(r => ((r.getLong(0) - base) / 60000, r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      // k=2 cut: b(3) rank 1, a(2) rank 2; c(1) cut
      assert(got == Set((0L, "b", 3L, 1L), (0L, "a", 2L, 2L)))
    } finally q.stop()
  }

  test("streaming trending on a closed batch equals the batch operator") {
    val events = Seq((0, "a"), (1, "a"), (2, "b"), (12, "c"), (13, "c"), (14, "d"))
      .map { case (m, i) =>
        Windows.TrendEvent(java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), i) }
    val stream = Windows.streamingTrending(events.toDS(), 10 * 60 * 1000, k = 1)
      .collect().map(o => (o.window_start, o.item, o.cnt, o.rank)).toSet
    val batchIn = events.toDF().select((col("ts").cast("long") * 1000).as("t_ms"),
      col("item"))
    val batch = graft.ops.Temporal.trendingTopK(batchIn, "t_ms", "item",
      windowMs = 600000L, k = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(stream == batch && stream.nonEmpty)
  }
}
