package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Classifier

class ClassifierSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  // two disjoint vocabularies → linearly separable by construction
  private def separableCorpus(n: Int): org.apache.spark.sql.DataFrame = {
    val good = Array("alpha", "beta", "gamma", "delta")
    val bad = Array("omega", "sigma", "kappa", "lambda")
    (0 until n).map { i =>
      val vocab = if (i % 2 == 0) good else bad
      val words = (0 until 20).map(j => vocab((i * 7 + j * 3) % vocab.length))
      (i.toLong, words.mkString(" "), i % 2 == 0)
    }.toDF("doc_id", "text", "label")
  }

  test("learns a separable concept to 100% and generalizes to unseen docs") {
    val corpus = separableCorpus(200)
    val train = corpus.filter(col("doc_id") < 150)
    val held = corpus.filter(col("doc_id") >= 150)
    val m = Classifier.train(train, "text", "label", "doc_id",
      buckets = 256, maxN = 1, iters = 10)
    def acc(df: org.apache.spark.sql.DataFrame): Double =
      Classifier.score(df, m, "text", "doc_id")
        .join(df.select(col("doc_id").as("id"), col("label")), "id")
        .agg(avg((col("predicted") === col("label")).cast("double")))
        .head().getDouble(0)
    assert(acc(train) == 1.0, "separable training set must fit exactly")
    assert(acc(held) == 1.0, "disjoint-vocab generalization must be exact")
  }

  test("training is bit-for-bit deterministic across repartitionings") {
    val corpus = separableCorpus(100)
    val m1 = Classifier.train(corpus.repartition(7), "text", "label", "doc_id",
      buckets = 128, iters = 5)
    val m2 = Classifier.train(corpus.repartition(3), "text", "label", "doc_id",
      buckets = 128, iters = 5)
    assert(m1.weightsMicro.toSeq == m2.weightsMicro.toSeq && m1.biasMicro == m2.biasMicro,
      "partitioning must not change the model")
  }

  test("frozen gate model provenance: re-training on sf0.001 reproduces the inlined weights") {
    // the FrozenBpeMerges pattern: if the trainer (hashing, update rule,
    // averaging, ordering) ever changes, this golden forces the frozen
    // array and its generated oracle to be re-derived together
    val toks = split(lower(trim(col("text"))), "\\s+")
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("label",
        (size(filter(toks, t => t === "the" || t === "a")) * 1000 / size(toks) >= 64).cast("int"))
    val m = Classifier.train(d, "text", "label", "doc_id",
      buckets = 64, maxN = 1, iters = 50)
    assert(m.weightsMicro.toSeq == EntrySupport.FrozenQualityWeightsMicro.toSeq)
    assert(m.biasMicro == EntrySupport.FrozenQualityBiasMicro)
    // the artifact is a real classifier: clearly above the 0.49/0.51 base
    val acc = Classifier.score(d, m, "text", "doc_id")
      .join(d.select(col("doc_id").as("id"), col("label")), "id")
      .agg(avg((col("predicted").cast("int") === col("label")).cast("double")))
      .head().getDouble(0)
    assert(acc > 0.75, s"frozen model should beat the base rate by a wide margin, got $acc")
  }

  test("filterQuality keeps exactly the accepted documents") {
    val corpus = separableCorpus(60)
    val m = Classifier.train(corpus, "text", "label", "doc_id", buckets = 128, iters = 5)
    val kept = Classifier.filterQuality(corpus, m, "text", "doc_id")
    val predicted = Classifier.score(corpus, m, "text", "doc_id")
      .filter(col("predicted")).select(col("id")).as[Long].collect().toSet
    assert(kept.select("doc_id").as[Long].collect().toSet == predicted)
    assert(kept.columns.toSeq == corpus.columns.toSeq, "filter must preserve the input schema")
  }

  test("scoring is a zero-shuffle scan (weights ride the closure)") {
    val m = Classifier.QualityModel(EntrySupport.FrozenQualityWeightsMicro,
      EntrySupport.FrozenQualityBiasMicro, 64, 1)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Classifier.score(docs, m, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
  }

  test("scoring works unchanged on a stream (pure projection, no state)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = separableCorpus(40)
    val m = Classifier.train(corpus, "text", "label", "doc_id", buckets = 128, iters = 5)
    val expected = Classifier.score(corpus, m, "text", "doc_id")
      .select("id", "predicted").as[(Long, Boolean)].collect().toSet
    val input = MemoryStream[(Long, String)](spark, 4)
    val scored = Classifier.score(input.toDF().toDF("doc_id", "text"), m, "text", "doc_id")
    val q = scored.writeStream.format("memory").queryName("clsstream")
      .outputMode("append").start()
    try {
      input.addData(corpus.select("doc_id", "text").as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("clsstream").select("id", "predicted")
        .as[(Long, Boolean)].collect().toSet
      assert(got == expected, "stream scoring must equal batch scoring")
    } finally q.stop()
  }

  test("guards: oversized labeled set and empty corpus are rejected") {
    val corpus = separableCorpus(20)
    intercept[IllegalArgumentException] {
      Classifier.train(corpus, "text", "label", "doc_id", buckets = 64, maxTrainDocs = 10)
    }
    intercept[IllegalArgumentException] {
      Classifier.train(corpus.filter(col("doc_id") < 0), "text", "label", "doc_id", buckets = 64)
    }
  }
}
