package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.text.wordsOf

/** One-off scale spot-runs above the contract data size (round-6/7
  * verdict items): operators whose 100 TB claims are design-verified and
  * plan-gated but were never executed above sf0.1.
  *
  * GRAPH tier (default): each loop operator on the contract-shaped
  * co-ordered-parts graph at 1× and at a structure-identical 10× (each
  * edge salted into 10 DISJOINT node-offset copies — same diameter, same
  * round count, 10× the edges/nodes), so the measured ratio isolates
  * DATA-VOLUME scaling from round-count scaling: a healthy
  * per-round-partial-agg loop should grow well under 10× wall-time at
  * 10× edges, because at this absolute size per-round job/checkpoint
  * overhead, not data, dominates.
  *
  * TEXT tier (`runMain graft.ScaleProbe text [sfDir]`): the banded
  * text/similarity operators (ExactSubstr, PassJoin, SemDeDup,
  * incremental embed index, PQ ANN) on 10×-salted documents/customers/
  * embeddings — disjoint id spaces and SAME per-copy duplicate
  * structure (per-salt text prefixes, edit-distance-3 name suffixes,
  * per-salt sign-flip orthogonal vector transforms that preserve
  * within-copy cosines exactly), exercising the banding/prefix-filter/
  * cell-pruning claims above contract scale.
  *
  * Run manually (not part of the bench contract):
  *   sbt "runMain graft.ScaleProbe [sfDir] [orderCap]"   # graph tier
  *   sbt "runMain graft.ScaleProbe text [sfDir]"         # text tier
  * Results are recorded in SCALE.md ("Measured ... scaling").
  */
object ScaleProbe {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("text")) textTier(args.drop(1))
    else if (args.headOption.contains("eval")) evalTier(args.drop(1))
    else if (args.headOption.contains("eval2")) eval2Tier(args.drop(1))
    else if (args.headOption.contains("eval3")) eval3Tier(args.drop(1))
    else graphTier(args)

  /** Round-11 operators above contract scale (multi-reference metrics,
    * bootstrap CI, idf-weighted BERTScore, approximate randomization)
    * plus the round-10 verdict's streaming-novelty static-side probe:
    * the novelty monitor's per-batch cost claim ("the stream pays its
    * own gram volume") assumes the stream-static join's static side
    * scales freely — this measures a 1× vs `staticM`× reference set's
    * effect on a trigger's wall, PERSISTED vs UNPERSISTED (a streaming
    * query re-executes the static side every micro-batch unless it is
    * persisted; batch mode here is exactly one trigger).
    *
    *   sbt "runMain graft.ScaleProbe eval3 [sfDir] [staticM]"
    */
  def eval3Tier(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val staticM = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = session()
    val off = lit(1000000000L)
    def salts(m: Int) = spark.range(m.toLong).select(col("id").as("salt"))

    val d0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def docsAt(m: Int) = d0.crossJoin(salts(m))
      .select((col("doc_id") + col("salt") * off).as("doc_id"), col("text"))
    // the gate's two-reference frame over salted docs (adjacent-id refs
    // stay salt-local except one boundary pair per copy)
    def multiRefOf(df: DataFrame): (DataFrame, DataFrame) = {
      def tr(c: Column, k: Int): Column =
        concat_ws(" ", slice(wordsOf(c), 1, k))
      val a = df.select(col("doc_id"), col("text"))
      val b = df.select((col("doc_id") - 1L).as("doc_id"),
        col("text").as("__next"))
      val joined = a.join(b, "doc_id")
      val par = spark.sparkContext.defaultParallelism
      (joined.select(col("doc_id").as("pair_id"), tr(col("text"), 40).as("cand"))
        .repartition(par, col("pair_id")),
        joined.select(col("doc_id").as("pair_id"), explode(array(
          struct(lit(1L).as("ref_ord"), tr(col("text"), 60).as("ref")),
          struct(lit(2L).as("ref_ord"), tr(col("__next"), 60).as("ref"))))
          .as("__r"))
          .select(col("pair_id"), col("__r.ref_ord").as("ref_ord"),
            col("__r.ref").as("ref"))
          .repartition(par, col("pair_id")))
    }
    def pairsOf(df: DataFrame): DataFrame = {
      val a = df.select(col("doc_id"), col("text"))
      val b = df.select((col("doc_id") - 1L).as("doc_id"),
        col("text").as("__next"))
      a.join(b, "doc_id").select(col("doc_id").as("pair_id"),
        col("text").as("cand"), col("__next").as("ref"))
        .repartition(spark.sparkContext.defaultParallelism, col("pair_id"))
    }
    val v0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    def unitsAt(m: Int) = {
      val codes = graft.ops.Similarity.quantizeInt8(v0.crossJoin(salts(m))
        .select((col("id") + col("salt") * off).as("id"), col("vec")))
        .select(col("id"), col("codes").cast("array<double>").as("vec"))
      codes.select(call_function("div", col("id"), lit(20L)).as("pair_id"),
        col("id").as("unit_id"), (col("id") % 7).as("key"), col("vec"))
    }

    def persisted(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
    val (docs1, docs10) = (persisted(docsAt(1)), persisted(docsAt(10)))
    val (u1, u10) = (persisted(unitsAt(1)), persisted(unitsAt(10)))
    println(s"docs 1x=${docs1.count()} 10x=${docs10.count()}; " +
      s"units 1x=${u1.count()} 10x=${u10.count()} ($sfDir)")

    def sized(m: Int): Int = 32 * m
    def run(name: String, d1: DataFrame, d10: DataFrame,
        f: DataFrame => DataFrame, scaleParts: Boolean = false): Unit = {
      def time(df: DataFrame, m: Int): Double = {
        spark.conf.set("spark.sql.shuffle.partitions",
          if (scaleParts) sized(m) else 32)
        try { val t0 = System.nanoTime(); f(df).count()
          (System.nanoTime() - t0) / 1e9
        } finally spark.conf.set("spark.sql.shuffle.partitions", 32)
      }
      time(d1, 1) // warm-up
      val t1 = time(d1, 1)
      val t10 = time(d10, 10)
      println(f"$name%-18s 1x=${t1}%.2fs 10x=${t10}%.2fs ratio=${t10 / t1}%.2f")
    }

    val em = graft.ops.EvalMetrics
    run("bleuMultiRef", docs1, docs10, df => {
      val (c, r) = multiRefOf(df)
      em.bleuComponentsMultiRef(c, r, "pair_id", "cand", "ref_ord", "ref")
    }, scaleParts = true)
    run("rougeMultiRef", docs1, docs10, df => {
      val (c, r) = multiRefOf(df)
      em.rougeNMultiRef(c, r, "pair_id", "cand", "ref_ord", "ref", maxN = 2)
    }, scaleParts = true)
    run("chrfMultiRef", docs1, docs10, df => {
      val (c, r) = multiRefOf(df)
      em.chrFMultiRef(c, r, "pair_id", "cand", "ref_ord", "ref",
        maxN = 3, maxChars = 500)
    }, scaleParts = true)
    run("rougeLMultiRef", docs1, docs10, df => {
      val (c, r) = multiRefOf(df)
      em.rougeLMultiRef(c, r, "pair_id", "cand", "ref_ord", "ref",
        maxTokens = 40)
    })
    run("terMultiRef", docs1, docs10, df => {
      val (c, r) = multiRefOf(df)
      em.terMultiRef(c, r, "pair_id", "cand", "ref_ord", "ref",
        maxTokens = 40)
    })
    run("bertScoreIdf", u1, u10, df =>
      em.bertScoreIdf(df.where(col("unit_id") % 2 === 0),
        df.where(col("unit_id") % 2 === 1), "pair_id", "unit_id", "vec",
        "key", em.idfWeightsMicro(df.where(col("unit_id") % 2 === 1),
          "pair_id", "key"), "key", "idf_micro"),
      scaleParts = true)
    // CI / approx-rand stage growth in PAIR volume over precomputed
    // persisted inputs (the component pipelines have their own legs)
    val (comp1, comp10) = (
      persisted(em.bleuComponents(pairsOf(docs1), "pair_id", "cand", "ref")),
      persisted(em.bleuComponents(pairsOf(docs10), "pair_id", "cand", "ref")))
    run("bootstrapCi", comp1, comp10, comp =>
      em.bootstrapDeltaCi(em.pairedBootstrapBleuReplicates(
        comp.where(col("pair_id") % 2 === 0),
        comp.where(col("pair_id") % 2 === 1)
          .withColumn("pair_id", col("pair_id") - 1L),
        replicates = 32), "delta"))
    val (rl1, rl10) = (
      persisted(em.rougeL(pairsOf(docs1), "pair_id", "cand", "ref", maxTokens = 40)),
      persisted(em.rougeL(pairsOf(docs10), "pair_id", "cand", "ref", maxTokens = 40)))
    run("approxRand", rl1, rl10, rl =>
      em.approxRandomization(
        rl.where(col("pair_id") % 2 === 0),
        rl.where(col("pair_id") % 2 === 1)
          .withColumn("pair_id", col("pair_id") - 1L),
        "pair_id", "f1_permille", replicates = 32))

    // sample/pair-volume legs for the round-11 additions: fixed
    // 200-problem universe (the passAtK claim: samples reduce ONCE),
    // event-pair volume for McNemar, event volume for the A/B monitor
    val e0 = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts"))
    def samplesAt(m: Int) = e0.crossJoin(salts(m))
      .select((col("event_id") % 200).as("problem"),
        (col("event_id") % 7 < 2).as("passed"))
    def pairsBinAt(m: Int) = e0.crossJoin(salts(m))
      .select((col("event_id") + col("salt") * off).as("pair_id"),
        col("event_id"))
    def scoredAt(m: Int) = e0.crossJoin(salts(m))
      .select(col("ts"), ((col("event_id") + col("salt")) * 3 % 100).as("ma"),
        ((col("event_id") * 7 + 1) % 100).as("mb"))
    val (s1, s10) = (persisted(samplesAt(1)), persisted(samplesAt(10)))
    val (pb1, pb10) = (persisted(pairsBinAt(1)), persisted(pairsBinAt(10)))
    val (sc1, sc10) = (persisted(scoredAt(1)), persisted(scoredAt(10)))
    run("gPassAtK", s1, s10, df =>
      em.gPassAtK(df, "problem", "passed", ks = Seq(5, 10),
        taus = Seq((1, 2), (1, 1))))
    run("mcnemar", pb1, pb10, df =>
      em.mcnemarTest(
        df.select(col("pair_id"), (col("event_id") % 7 < 2).as("passed")),
        df.select(col("pair_id"), (col("event_id") % 5 < 2).as("passed")),
        "pair_id", "passed"))
    run("streamPairedDelta", sc1, sc10, df =>
      graft.streaming.Windows.streamingPairedDelta(df, "ts", "ma", "mb",
        windowDuration = "1 hour"))

    // ---- streaming-novelty static side at 1x vs staticM x reference
    // volume, persisted vs unpersisted (one batch run == one trigger)
    val events = persisted(spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("ts"), concat_ws(" ", col("event_type"), col("props"),
        (col("event_id") % 13).cast("string")).as("text")))
    println(s"stream side: ${events.count()} events per trigger")
    def trigger(idx: em.NoveltyIndex): Double = {
      val t0 = System.nanoTime()
      graft.streaming.Windows.streamingNovelty(events, "ts", "text", idx,
        windowDuration = "1 hour").count()
      (System.nanoTime() - t0) / 1e9
    }
    // the reference CONTENT must grow, not just the row count: salted
    // copies share identical text and would dedup back to the 1x gram
    // set. Salt > 0 prefixes every token (disjoint gram spaces, exactly
    // m x the distinct set); salt 0 keeps the real text so the stream's
    // membership hits survive at every m
    def refDocsAt(m: Int) = d0.crossJoin(salts(m))
      .select((col("doc_id") + col("salt") * off).as("doc_id"),
        when(col("salt") === 0, col("text")).otherwise(
          concat_ws(" ", transform(wordsOf(col("text")),
            t => concat(col("salt").cast("string"), lit("_"), t))))
          .as("text"))
    for (m <- Seq(1, staticM)) {
      spark.conf.set("spark.sql.shuffle.partitions", sized(math.max(1, m / 4)))
      try {
        val idx = em.noveltyIndex(refDocsAt(m), "text", maxN = 2)
        val cold1 = trigger(idx); val cold2 = trigger(idx)
        val entries = idx.entries.persist()
        val nGrams = entries.count()
        val pIdx = em.NoveltyIndex(entries, idx.maxN)
        trigger(pIdx) // warm the cache path
        val warm = trigger(pIdx)
        println(f"novelty static ${m}x: refGrams=$nGrams%d " +
          f"unpersisted=${math.min(cold1, cold2)}%.2fs persisted=$warm%.2fs")
        entries.unpersist()
      } finally spark.conf.set("spark.sql.shuffle.partitions", 32)
    }
    spark.stop()
  }

  /** Round-9/10 operators above contract scale (round-9 verdict item 5 +
    * the round-10 additions): passAtK and selfConsistency at 10×/100×
    * SAMPLE volume (fixed 200-problem universe — the claim is "samples
    * reduce ONCE to per-problem counts", so everything after the first
    * partial agg is problem-sized), the corpus rollups
    * (corpusBleu/chrf/rougeN) at 10×/100× pairs (the reduce is free, the
    * component pipeline is the cost — the probe verifies the composition
    * stays component-shaped), passAtKRollup over the grown sample volume,
    * bertScore at 10×/100× unit-pair volume (fixed units/pair, pairs
    * grow), and distinctN at 10×/100× gram volume.
    *
    *   sbt "runMain graft.ScaleProbe eval2 [sfDir] [extraM]"
    */
  def eval2Tier(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = session()
    val off = lit(1000000000L)
    def salts(m: Int) = spark.range(m.toLong).select(col("id").as("salt"))

    val d0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def docsAt(m: Int) = d0.crossJoin(salts(m))
      .select((col("doc_id") + col("salt") * off).as("doc_id"), col("text"))
    def pairsOf(df: DataFrame): DataFrame = {
      val a = df.select(col("doc_id"), col("text"))
      val b = df.select((col("doc_id") - 1L).as("doc_id"),
        col("text").as("__next"))
      a.join(b, "doc_id").select(col("doc_id").as("pair_id"),
        col("text").as("cand"), col("__next").as("ref"))
        .repartition(spark.sparkContext.defaultParallelism, col("pair_id"))
    }
    // sample volume axis: rows replicate per salt (fixed problem/answer
    // universe — the cardinality the per-problem state is sized by)
    val e0 = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"))
    def samplesAt(m: Int) = e0.crossJoin(salts(m))
      .select((col("event_id") % 200).as("problem"),
        (col("event_id") % 7 < 2).as("passed"),
        ((col("event_id") * 3 + col("user_id")) % 7).as("answer"))
    // unit-pair volume axis: ~10 cand + ~10 ref int8 units per pair,
    // pair count grows with the salt copies (disjoint pair id spaces)
    val v0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    def unitsAt(m: Int) = {
      val codes = graft.ops.Similarity.quantizeInt8(v0.crossJoin(salts(m))
        .select((col("id") + col("salt") * off).as("id"), col("vec")))
        .select(col("id"), col("codes").cast("array<double>").as("vec"))
      codes.select(call_function("div", col("id"), lit(20L)).as("pair_id"),
        col("id").as("unit_id"), col("vec"))
    }

    def persisted(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
    val (docs1, docs10) = (persisted(docsAt(1)), persisted(docsAt(10)))
    val (s1, s10) = (persisted(samplesAt(1)), persisted(samplesAt(10)))
    val (u1, u10) = (persisted(unitsAt(1)), persisted(unitsAt(10)))
    println(s"docs 1x=${docs1.count()} 10x=${docs10.count()}; " +
      s"samples 1x=${s1.count()} 10x=${s10.count()}; " +
      s"units 1x=${u1.count()} 10x=${u10.count()} ($sfDir)")

    // same shuffle-sizing discipline as evalTier: gram/unit-volume legs
    // size partitions with the data, metadata-exchange legs keep 32
    def sized(m: Int): Int = 32 * m
    def run(name: String, d1: DataFrame, d10: DataFrame,
        f: DataFrame => DataFrame, scaleParts: Boolean = false): Unit = {
      def time(df: DataFrame, m: Int): Double = {
        spark.conf.set("spark.sql.shuffle.partitions",
          if (scaleParts) sized(m) else 32)
        try { val t0 = System.nanoTime(); f(df).count()
          (System.nanoTime() - t0) / 1e9
        } finally spark.conf.set("spark.sql.shuffle.partitions", 32)
      }
      time(d1, 1) // warm-up
      val t1 = time(d1, 1)
      val t10 = time(d10, 10)
      println(f"$name%-18s 1x=${t1}%.2fs 10x=${t10}%.2fs ratio=${t10 / t1}%.2f")
    }

    val em = graft.ops.EvalMetrics
    run("passAtK", s1, s10,
      df => em.passAtK(df, "problem", "passed", ks = Seq(1, 5, 10)))
    run("passAtKRollup", s1, s10,
      df => em.passAtKRollup(em.passAtK(df, "problem", "passed", ks = Seq(1, 5, 10))))
    run("selfConsistency", s1, s10,
      df => em.selfConsistency(df, "problem", "answer"))
    run("corpusBleu", docs1, docs10,
      df => em.corpusBleu(em.bleuComponents(pairsOf(df), "pair_id", "cand", "ref")),
      scaleParts = true)
    run("corpusChrf", docs1, docs10,
      df => em.corpusChrf(em.chrF(pairsOf(df), "pair_id", "cand", "ref",
        maxN = 3, maxChars = 500)), scaleParts = true)
    run("corpusRougeN", docs1, docs10,
      df => em.corpusRougeN(em.rougeN(pairsOf(df), "pair_id", "cand", "ref",
        maxN = 2)), scaleParts = true)
    run("bertScore", u1, u10,
      df => em.bertScore(df.where(col("unit_id") % 2 === 0),
        df.where(col("unit_id") % 2 === 1), "pair_id", "unit_id", "vec"),
      scaleParts = true)
    run("distinctN", docs1, docs10,
      df => em.distinctN(df, "text", maxN = 2), scaleParts = true)
    run("ngramNovelty", docs1, docs10,
      df => em.ngramNovelty(
        df.where(col("doc_id") % 10 === 0), "text", "doc_id",
        df.where(col("doc_id") % 10 =!= 0), "text", maxN = 2),
      scaleParts = true)
    // the streaming corpus-BLEU twin's cost center: the row-local clip
    // (zero-shuffle scan — the windowed pool above it is metadata)
    run("bleuRowLocal", docs1, docs10,
      df => em.bleuComponentsRowLocal(pairsOf(df), "pair_id", "cand", "ref",
        maxTokens = 64))
    run("seqRepN", docs1, docs10,
      df => em.seqRepN(df, "text", "doc_id", maxN = 2))
    // paired bootstrap over PRECOMPUTED persisted components — the
    // bootstrap stage's own growth in pair volume, not the gram
    // pipeline's (that is corpusBleu's leg); the ×32 replicate fan-out
    // reduces onto 32 rows whatever the pair count; systems = the gate's
    // even/odd construction
    val (comp1, comp10) = (
      persisted(em.bleuComponents(pairsOf(docs1), "pair_id", "cand", "ref")),
      persisted(em.bleuComponents(pairsOf(docs10), "pair_id", "cand", "ref")))
    def bootOf(comp: DataFrame): DataFrame =
      em.pairedBootstrapBleu(
        comp.where(col("pair_id") % 2 === 0),
        comp.where(col("pair_id") % 2 === 1)
          .withColumn("pair_id", col("pair_id") - 1L),
        replicates = 32)
    run("pairedBootstrap", comp1, comp10, bootOf)

    // optional second arg: the non-quadratic trend check one decade up
    args.lift(1).map(_.toInt).foreach { m =>
      val docsM = persisted(docsAt(m))
      val sM = persisted(samplesAt(m))
      val uM = persisted(unitsAt(m))
      println(s"docs ${m}x=${docsM.count()} samples ${m}x=${sM.count()} " +
        s"units ${m}x=${uM.count()}")
      def timeM(name: String, f: => DataFrame, scaleParts: Boolean = false): Unit = {
        spark.conf.set("spark.sql.shuffle.partitions",
          if (scaleParts) sized(m) else 32)
        try { val t0 = System.nanoTime(); f.count()
          println(f"$name%-18s ${m}x=${(System.nanoTime() - t0) / 1e9}%.2fs")
        } finally spark.conf.set("spark.sql.shuffle.partitions", 32)
      }
      timeM("passAtK", em.passAtK(sM, "problem", "passed", ks = Seq(1, 5, 10)))
      timeM("passAtKRollup", em.passAtKRollup(
        em.passAtK(sM, "problem", "passed", ks = Seq(1, 5, 10))))
      timeM("selfConsistency", em.selfConsistency(sM, "problem", "answer"))
      timeM("corpusBleu", em.corpusBleu(
        em.bleuComponents(pairsOf(docsM), "pair_id", "cand", "ref")),
        scaleParts = true)
      timeM("corpusChrf", em.corpusChrf(em.chrF(pairsOf(docsM),
        "pair_id", "cand", "ref", maxN = 3, maxChars = 500)), scaleParts = true)
      timeM("corpusRougeN", em.corpusRougeN(em.rougeN(pairsOf(docsM),
        "pair_id", "cand", "ref", maxN = 2)), scaleParts = true)
      timeM("bertScore", em.bertScore(uM.where(col("unit_id") % 2 === 0),
        uM.where(col("unit_id") % 2 === 1), "pair_id", "unit_id", "vec"),
        scaleParts = true)
      timeM("distinctN", em.distinctN(docsM, "text", maxN = 2), scaleParts = true)
      timeM("ngramNovelty", em.ngramNovelty(
        docsM.where(col("doc_id") % 10 === 0), "text", "doc_id",
        docsM.where(col("doc_id") % 10 =!= 0), "text", maxN = 2),
        scaleParts = true)
      timeM("bleuRowLocal", em.bleuComponentsRowLocal(pairsOf(docsM),
        "pair_id", "cand", "ref", maxTokens = 64))
      timeM("seqRepN", em.seqRepN(docsM, "text", "doc_id", maxN = 2))
      val compM = persisted(
        em.bleuComponents(pairsOf(docsM), "pair_id", "cand", "ref"))
      timeM("pairedBootstrap", em.pairedBootstrapBleu(
        compM.where(col("pair_id") % 2 === 0),
        compM.where(col("pair_id") % 2 === 1)
          .withColumn("pair_id", col("pair_id") - 1L),
        replicates = 32))
    }
    spark.stop()
  }

  /** Round-8 operators above contract scale (round-8 verdict item): the
    * eval-metric family's char-gram leg (chrF — ~5× the word-gram
    * volume, the family's heaviest), rougeN, bradleyTerry at 10×/100×
    * JUDGMENT volume (fixed item universe — the claim under test is
    * "judgments reduce ONCE to pair counts", so rounds stay item-sized
    * while the input grows), and one leg each for distributionDrift and
    * shardManifest. Salting: disjoint id offsets per copy (pairs stay
    * copy-local); judgment/value rows replicate verbatim (volume, not
    * cardinality, is the axis).
    *
    *   sbt "runMain graft.ScaleProbe eval [sfDir] [extraM]"
    */
  def evalTier(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = session()
    val off = lit(1000000000L)
    def salts(m: Int) = spark.range(m.toLong).select(col("id").as("salt"))

    val d0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def docsAt(m: Int) = d0.crossJoin(salts(m))
      .select((col("doc_id") + col("salt") * off).as("doc_id"), col("text"))
    // adjacent-id pair frame (the eval-gate shape); offset ids keep
    // pairs salt-local except one boundary pair per copy
    def pairsOf(df: DataFrame): DataFrame = {
      val a = df.select(col("doc_id"), col("text"))
      val b = df.select((col("doc_id") - 1L).as("doc_id"),
        col("text").as("__next"))
      a.join(b, "doc_id").select(col("doc_id").as("pair_id"),
        col("text").as("cand"), col("__next").as("ref"))
        .repartition(spark.sparkContext.defaultParallelism, col("pair_id"))
    }
    val e0 = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))
    def eventsAt(m: Int) = e0.crossJoin(salts(m))
      .select(col("event_id"), col("cents"), col("salt"))

    def persisted(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
    val (docs1, docs10) = (persisted(docsAt(1)), persisted(docsAt(10)))
    val (ev1, ev10) = (persisted(eventsAt(1)), persisted(eventsAt(10)))
    println(s"docs 1x=${docs1.count()} 10x=${docs10.count()}; " +
      s"events 1x=${ev1.count()} 10x=${ev10.count()} ($sfDir)")

    // Shuffle partitions follow the frames that actually SHUFFLE, not
    // the input volume — both directions were measured as failure modes:
    // with the count FIXED at 32, the 10× gram aggregation's reducers
    // each carry 10× the rows, outgrow the hash-agg memory and fall to
    // the spill path (chrF 15.6× at 10×; sized, 5.4×); with the count
    // blindly scaled to 32·m, bradleyTerry — whose exchanges are
    // pair/item-sized METADATA by design — paid 3200-task scheduling
    // overhead per round (49 s at 100× vs 4.6 s at 32). So the
    // gram-volume legs size partitions with the data and the
    // metadata-exchange legs keep the core count, which is exactly how
    // a deployment tunes the two families.
    def sized(m: Int): Int = 32 * m
    def run(name: String, d1: DataFrame, d10: DataFrame,
        f: DataFrame => DataFrame, scaleParts: Boolean = false): Unit = {
      def time(df: DataFrame, m: Int): Double = {
        spark.conf.set("spark.sql.shuffle.partitions",
          if (scaleParts) sized(m) else 32)
        try { val t0 = System.nanoTime(); f(df).count()
          (System.nanoTime() - t0) / 1e9
        } finally spark.conf.set("spark.sql.shuffle.partitions", 32)
      }
      time(d1, 1) // warm-up
      val t1 = time(d1, 1)
      val t10 = time(d10, 10)
      println(f"$name%-18s 1x=${t1}%.2fs 10x=${t10}%.2fs ratio=${t10 / t1}%.2f")
    }

    // gate settings (maxChars 500 barely truncates the ~300-char corpus
    // texts, so the measured volume is the honest full-text gram count)
    run("chrF", docs1, docs10, df => graft.ops.EvalMetrics.chrF(
      pairsOf(df), "pair_id", "cand", "ref", maxN = 3, maxChars = 500),
      scaleParts = true)
    run("rougeN", docs1, docs10, df => graft.ops.EvalMetrics.rougeN(
      pairsOf(df), "pair_id", "cand", "ref", maxN = 2), scaleParts = true)
    run("selfBleu", docs1, docs10, df =>
      graft.ops.EvalMetrics.selfBleu(df, "text", "doc_id", peers = 2),
      scaleParts = true)
    run("terComponents", docs1, docs10, df => graft.ops.EvalMetrics.terComponents(
      pairsOf(df), "pair_id", "cand", "ref", maxTokens = 40))
    run("rougeL", docs1, docs10, df => graft.ops.EvalMetrics.rougeL(
      pairsOf(df), "pair_id", "cand", "ref", maxTokens = 40))
    // fixed 120-item universe, judgment volume grows with the salt copies
    def judgments(df: DataFrame): DataFrame =
      df.select((col("event_id") % 120).as("winner"),
        ((col("event_id") * 7 + 3) % 120).as("loser"))
    run("bradleyTerry", ev1, ev10, df =>
      graft.ops.Curation.bradleyTerry(judgments(df), "winner", "loser", iters = 4))
    run("distributionDrift", ev1, ev10, df =>
      graft.ops.Profile.distributionDrift(
        df, df.select((col("cents") + 1700L).as("cents")),
        "cents", buckets = 200, lo = 0L, hi = 100000L))
    run("shardManifest", docs1, docs10, df =>
      graft.ops.Profile.shardManifest(df, "doc_id", "text", shards = 256))

    // optional second arg: the non-quadratic trend check one decade up
    args.lift(1).map(_.toInt).foreach { m =>
      val docsM = persisted(docsAt(m))
      val evM = persisted(eventsAt(m))
      println(s"docs ${m}x=${docsM.count()} events ${m}x=${evM.count()}")
      def timeM(name: String, f: => DataFrame, scaleParts: Boolean = false): Unit = {
        spark.conf.set("spark.sql.shuffle.partitions",
          if (scaleParts) sized(m) else 32)
        try { val t0 = System.nanoTime(); f.count()
          println(f"$name%-18s ${m}x=${(System.nanoTime() - t0) / 1e9}%.2fs")
        } finally spark.conf.set("spark.sql.shuffle.partitions", 32)
      }
      timeM("chrF", graft.ops.EvalMetrics.chrF(
        pairsOf(docsM), "pair_id", "cand", "ref", maxN = 3, maxChars = 500),
        scaleParts = true)
      timeM("rougeN", graft.ops.EvalMetrics.rougeN(
        pairsOf(docsM), "pair_id", "cand", "ref", maxN = 2), scaleParts = true)
      timeM("selfBleu",
        graft.ops.EvalMetrics.selfBleu(docsM, "text", "doc_id", peers = 2),
        scaleParts = true)
      timeM("terComponents", graft.ops.EvalMetrics.terComponents(
        pairsOf(docsM), "pair_id", "cand", "ref", maxTokens = 40))
      timeM("rougeL", graft.ops.EvalMetrics.rougeL(
        pairsOf(docsM), "pair_id", "cand", "ref", maxTokens = 40))
      timeM("bradleyTerry",
        graft.ops.Curation.bradleyTerry(judgments(evM), "winner", "loser", iters = 4))
      timeM("distributionDrift", graft.ops.Profile.distributionDrift(
        evM, evM.select((col("cents") + 1700L).as("cents")),
        "cents", buckets = 200, lo = 0L, hi = 100000L))
      timeM("shardManifest",
        graft.ops.Profile.shardManifest(docsM, "doc_id", "text", shards = 256))
    }
    spark.stop()
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Banded text/similarity tier at 1× and 10× (round-7 verdict item). */
  def textTier(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = session()
    val off = lit(1000000000L)
    def salts(m: Int) = spark.range(m.toLong).select(col("id").as("salt"))

    // documents with the ns_substr_dedup duplicate injection; per-salt
    // prefix tokens keep leading shingles copy-local, while the injected
    // license tail stays corpus-wide shared boilerplate — the realistic
    // hard case for substring dedup (group size grows with the corpus)
    val d0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def docsAt(m: Int) = d0.crossJoin(salts(m))
      .select((col("doc_id") + col("salt") * off).as("doc_id"),
        concat(lit("s"), col("salt").cast("string"), lit(" "), col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit(EntrySupport.SubstrDedupTail)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit(EntrySupport.SubstrDedupTail + EntrySupport.SubstrDedupTail))
            .otherwise(lit(""))).as("text"))
    // customers: raw TPC-H names share a constant 14-char prefix
    // ("Customer#0000…") and differ only in trailing digits — EVERY name
    // collides on the constant PassJoin segments AND the dense id space
    // makes the true ed<=2 pair set itself quadratic-ish (millions of
    // genuine matches at 15k names). That is the degenerate-key regime
    // the operator's maxBucket valve exists for, not the workload the
    // banding claim is about. The probe therefore builds the real fuzzy
    // workload shape: 12-hex-char keyed names (high-entropy segments)
    // with a PLANTED near-dup per 5 keys (first char substituted on the
    // previous key's name — exactly ed 1), so matches are sparse and the
    // measured growth is the banding machinery's. 3-repeated per-salt
    // letters keep cross-copy pairs at ed >= 3 (> maxDist 2), per-copy
    // disjoint as in the other frames.
    val c0 = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey")
    def custAt(m: Int) = {
      val baseNm = substring(md5(col("c_custkey").cast("string")), 1, 12)
      val anchorNm = substring(md5((col("c_custkey") - 1).cast("string")), 1, 12)
      val nm = when(pmod(col("c_custkey"), lit(5)) === 0,
        concat(lit("z"), substring(anchorNm, 2, 11))).otherwise(baseNm)
      c0.crossJoin(salts(m))
        .select((col("c_custkey") + col("salt") * off).as("c_custkey"),
          concat(nm, lit(" "), repeat(chr(col("salt") + lit(97L)), 3)).as("c_name"))
    }
    // embeddings: per-salt sign flips are an ORTHOGONAL transform —
    // within-copy cosines are preserved exactly, cross-copy cosines
    // scramble toward 0, so near-dup structure is per-copy-disjoint
    val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    def vecsAt(m: Int) = e0.crossJoin(salts(m))
      .select((col("id") + col("salt") * off).as("id"),
        transform(col("vec"), (x, i) =>
          x * (lit(1.0) - lit(2.0) *
            pmod(xxhash64(col("salt"), i), lit(2)).cast("double"))).as("vec"))

    def persisted(f: Int => DataFrame, m: Int): DataFrame = {
      val df = f(m).persist(); df.count(); df
    }
    val (docs1, docs10) = (persisted(docsAt, 1), persisted(docsAt, 10))
    val (cust1, cust10) = (persisted(custAt, 1), persisted(custAt, 10))
    val (vecs1, vecs10) = (persisted(vecsAt, 1), persisted(vecsAt, 10))
    println(s"docs 1x=${docs1.count()} 10x=${docs10.count()}; " +
      s"cust 1x=${cust1.count()} 10x=${cust10.count()}; " +
      s"vecs 1x=${vecs1.count()} 10x=${vecs10.count()} ($sfDir)")

    def run(name: String, d1: DataFrame, d10: DataFrame,
        f: (DataFrame, Int) => DataFrame): Unit = {
      def time(df: DataFrame, m: Int): Double = {
        val t0 = System.nanoTime(); f(df, m).count()
        (System.nanoTime() - t0) / 1e9
      }
      time(d1, 1) // warm-up
      val t1 = time(d1, 1)
      val t10 = time(d10, 10)
      println(f"$name%-18s 1x=${t1}%.2fs 10x=${t10}%.2fs ratio=${t10 / t1}%.2f")
    }

    run("exactSubstr", docs1, docs10,
      (df, _) => graft.ops.Curation.exactSubstrDedup(df, "text", "doc_id",
        minTokens = 8))
    // the balanced-IVF operating discipline (nlist ≈ √N): centroid count
    // grows with √corpus so the one-vs-all assignment term (N·C) and the
    // within-cell quadratic (N·cellSize) BALANCE at N^1.5 total build
    // work — the standard IVF build envelope; a first run with C ∝ N
    // measured 17.7× at 10× (assignment-dominated), the √N rule is what
    // a deployment tunes to
    run("semanticDedup", vecs1, vecs10,
      (df, m) => graft.ops.Dedup.semanticDedup(df, "vec", "id",
        threshold = 0.48,
        nCentroids = math.ceil(math.sqrt(2000.0 * m)).toInt))
    // LSH bucket-occupancy discipline: planes grow with log(corpus) so
    // buckets multiply with the data and per-bucket occupancy (and thus
    // candidates per query) stays ~constant — 4 planes/16 buckets per
    // table at 1×, 7/128 at 10×; a fixed-planes first run measured
    // 20.1× at 10× (occupancy ∝ N → candidate pairs ∝ N²/buckets).
    // probes=2 realistic (not the oracle-exhaustive 2^planes); even ids
    // are the standing index, odd ids the incoming batch — both grow
    run("incrementalEmbed", vecs1, vecs10, (df, m) => {
      val planes = if (m >= 10) 7 else 4
      val idx = graft.ops.Dedup.embedIndex(
        df.filter(pmod(col("id"), lit(2)) === 0), "vec", "id",
        planes = planes, tables = 2)
      graft.ops.Dedup.incrementalEmbedCandidates(
        df.filter(pmod(col("id"), lit(2)) === 1), idx, "vec", "id",
        minCosPermille = 400L, probes = 2)
    })
    // compression mode (ksub=16 codebooks, not the lossless gate's 512);
    // FIXED 50-query batch so the ratio isolates corpus-side growth
    run("pqTopK", vecs1, vecs10,
      (df, _) => graft.ops.Similarity.pqTopK(
        df.filter(col("id") < 50), df, k = 5, m = 8, ksub = 16))
    run("passJoin", cust1, cust10,
      (df, _) => graft.ops.Fuzzy.editDistanceSelfJoin(df, "c_name",
        "c_custkey", maxDist = 2))
    // eval metrics are one union-fed gram shuffle — the probe checks the
    // claimed ~linear growth (adjacent-id pairs stay salt-local except
    // one boundary pair per copy)
    run("bleuComponents", docs1, docs10, (df, _) => {
      val a = df.select(col("doc_id"), col("text"))
      val b = df.select((col("doc_id") - 1L).as("doc_id"),
        col("text").as("__next"))
      graft.ops.EvalMetrics.bleuComponents(
        a.join(b, "doc_id").select(col("doc_id").as("pair_id"),
          col("text").as("cand"), col("__next").as("ref")),
        "pair_id", "cand", "ref")
    })
    // MMR: k fixed, corpus grows — k TakeOrdered scans should scale
    // linearly in the corpus
    run("mmrSelect", vecs1, vecs10, (df, _) => {
      val q = e0.orderBy("id").select("vec").head().getSeq[Double](0).toArray
      graft.ops.Similarity.mmrSelect(df, "vec", "id", q, k = 8)
    })

    // optional second arg: ALSO run the non-quadratic ops at `extra`x
    // copies (the trend check one decade up; unset = skip)
    args.lift(1).map(_.toInt).foreach { m =>
      val docsM = persisted(docsAt, m)
      val vecsM = persisted(vecsAt, m)
      println(s"docs ${m}x=${docsM.count()} vecs ${m}x=${vecsM.count()}")
      def timeM(name: String, f: => DataFrame): Unit = {
        val t0 = System.nanoTime(); f.count()
        println(f"$name%-18s ${m}x=${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      timeM("exactSubstr", graft.ops.Curation.exactSubstrDedup(
        docsM, "text", "doc_id", minTokens = 8))
      timeM("semanticDedup", graft.ops.Dedup.semanticDedup(
        vecsM, "vec", "id", threshold = 0.48,
        nCentroids = math.ceil(math.sqrt(2000.0 * m)).toInt))
      timeM("incrementalEmbed", {
        val planes = math.max(4, (math.log(2000.0 * m / 125) / math.log(2)).round.toInt)
        val idx = graft.ops.Dedup.embedIndex(
          vecsM.filter(pmod(col("id"), lit(2)) === 0), "vec", "id",
          planes = planes, tables = 2)
        graft.ops.Dedup.incrementalEmbedCandidates(
          vecsM.filter(pmod(col("id"), lit(2)) === 1), idx, "vec", "id",
          minCosPermille = 400L, probes = 2)
      })
      timeM("pqTopK", graft.ops.Similarity.pqTopK(
        vecsM.filter(col("id") < 50), vecsM, k = 5, m = 8, ksub = 16))
      timeM("bleuComponents", {
        val a = docsM.select(col("doc_id"), col("text"))
        val b = docsM.select((col("doc_id") - 1L).as("doc_id"),
          col("text").as("__next"))
        graft.ops.EvalMetrics.bleuComponents(
          a.join(b, "doc_id").select(col("doc_id").as("pair_id"),
            col("text").as("cand"), col("__next").as("ref")),
          "pair_id", "cand", "ref")
      })
      timeM("mmrSelect", {
        val q = e0.orderBy("id").select("vec").head().getSeq[Double](0).toArray
        graft.ops.Similarity.mmrSelect(vecsM, "vec", "id", q, k = 8)
      })
    }
    spark.stop()
  }

  def graphTier(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val orderCap = args.lift(1).map(_.toLong).getOrElse(20000L)
    val spark = session()

    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_orderkey") <= orderCap)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges1 = l.select(col("ok"), col("pk").as("pa"))
      .join(l.select(col("ok"), col("pk").as("pb")), "ok")
      .where(col("pa") < col("pb")).select("pa", "pb").distinct()
      .persist()
    val n1 = edges1.count()
    // 10 disjoint copies: offset node ids per salt so components never merge
    val off = lit(1000000000L)
    val edges10 = edges1
      .crossJoin(spark.range(10).select(col("id").as("salt")))
      .select((col("pa") + col("salt") * off).as("pa"),
        (col("pb") + col("salt") * off).as("pb"))
      .persist()
    val n10 = edges10.count()
    println(s"edges 1x=$n1 10x=$n10 (orderCap=$orderCap, $sfDir)")
    // optional third arg: ALSO run pageRank/seedDistance at `extra`x copies
    // (the trend check one decade up; unset = skip)
    val extra = args.lift(2).map(_.toInt)

    def seedsOf(e: DataFrame) = e.groupBy().agg(min(col("pa")).as("m"))
      .select(explode(sequence(lit(0L), lit(9L))).as("salt"), col("m"))
      .select((col("m") + col("salt") * off).as("s")).limit(10)
    val seeds1 = seedsOf(edges1).filter(col("s") < off)

    val ops = graft.ops.Graph
    def run(name: String, f: DataFrame => DataFrame): Unit = {
      def time(e: DataFrame): Double = {
        val t0 = System.nanoTime(); f(e).count(); (System.nanoTime() - t0) / 1e9
      }
      // warm-up on 1x, then timed 1x and 10x
      time(edges1)
      val t1 = time(edges1)
      val t10 = time(edges10)
      println(f"$name%-18s 1x=${t1}%.2fs 10x=${t10}%.2fs ratio=${t10 / t1}%.2f")
    }

    run("pageRank", e => ops.pageRank(e, "pa", "pb", iters = 3))
    run("pageRankDangling",
      e => ops.pageRank(e, "pa", "pb", iters = 3, redistributeDangling = true))
    run("hits", e => ops.hits(e, "pa", "pb", iters = 2))
    run("labelPropagation", e => ops.labelPropagation(e, "pa", "pb", rounds = 3))
    run("kCore", e => ops.kCore(e, "pa", "pb", k = 3L))
    run("seedDistance",
      e => ops.seedDistance(e, "pa", "pb",
        if (e eq edges1) seeds1 else seedsOf(edges1), "s", maxHops = 3))
    run("seedAttribution",
      e => ops.seedAttribution(e, "pa", "pb",
        if (e eq edges1) seeds1 else seedsOf(edges1), "s", maxHops = 3))
    run("ccStar", e => graft.ops.Dedup.connectedComponentsStar(
      e.select(col("pa").as("idA"), col("pb").as("idB"))))

    extra.foreach { m =>
      val edgesM = edges1
        .crossJoin(spark.range(m.toLong).select(col("id").as("salt")))
        .select((col("pa") + col("salt") * off).as("pa"),
          (col("pb") + col("salt") * off).as("pb"))
        .persist()
      println(s"edges ${m}x=${edgesM.count()}")
      def timeM(name: String, f: DataFrame => DataFrame): Unit = {
        val t0 = System.nanoTime(); f(edgesM).count()
        println(f"$name%-18s ${m}x=${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      timeM("pageRank", e => ops.pageRank(e, "pa", "pb", iters = 3))
      timeM("seedDistance", e => ops.seedDistance(e, "pa", "pb",
        e.groupBy().agg(min(col("pa")).as("m"))
          .select(explode(sequence(lit(0L), lit(m.toLong - 1))).as("salt"), col("m"))
          .select((pmod(col("m"), off) + col("salt") * off).as("s")),
        "s", maxHops = 3))
    }
    spark.stop()
  }
}
