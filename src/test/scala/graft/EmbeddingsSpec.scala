package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Embeddings

class EmbeddingsSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  // points spread along a known axis + small deterministic off-axis noise
  private def axisCorpus(n: Int, dim: Int, axis: Array[Double]) = {
    val nrm = math.sqrt(axis.map(x => x * x).sum)
    val u = axis.map(_ / nrm)
    (0 until n).map { i =>
      val t = (i % 21 - 10) / 10.0 // spread in [-1, 1]
      val noise = 0.01 * ((i * 31 % 17) - 8) / 8.0
      val v = Array.tabulate(dim)(j => t * u(j) + (if (j == (i % dim)) noise else 0.0))
      (i.toLong, v)
    }.toDF("vec_id", "vec")
  }

  test("trainPca recovers a planted principal axis; components are orthonormal") {
    val dim = 8
    val axis = Array(3.0, 1.0, -2.0, 0.5, 0.0, -1.0, 2.0, 0.25)
    val m = Embeddings.trainPca(axisCorpus(400, dim, axis), "vec", dim, k = 3)
    val c0 = m.componentsMicro(0).map(_ / 1e6)
    val u = { val n = math.sqrt(axis.map(x => x * x).sum); axis.map(_ / n) }
    val cos = math.abs(c0.zip(u).map { case (a, b) => a * b }.sum)
    assert(cos > 0.999, s"first component must align with the planted axis, cos=$cos")
    for (a <- 0 until 3; b <- 0 until 3) {
      val dot = m.componentsMicro(a).zip(m.componentsMicro(b))
        .map { case (x, y) => x / 1e6 * (y / 1e6) }.sum
      if (a == b) assert(math.abs(dot - 1.0) < 1e-3, s"component $a must be unit norm, got $dot")
      else assert(math.abs(dot) < 1e-3, s"components $a,$b must be orthogonal, got $dot")
    }
  }

  test("moment sums and the trained model are identical under repartitioning") {
    val corpus = axisCorpus(200, 6, Array(1.0, 2.0, 3.0, -1.0, 0.5, 0.0))
    val m1 = Embeddings.trainPca(corpus.repartition(7), "vec", 6, 2)
    val m2 = Embeddings.trainPca(corpus.repartition(2), "vec", 6, 2)
    assert(m1.componentsMicro.map(_.toSeq).toSeq == m2.componentsMicro.map(_.toSeq).toSeq,
      "integer moment accumulation must make training partition-invariant")
  }

  test("project equals a driver-side exact integer replay; length mismatches drop") {
    val corpus = axisCorpus(50, 6, Array(1.0, 2.0, 3.0, -1.0, 0.5, 0.0))
    val m = Embeddings.trainPca(corpus, "vec", 6, 2)
    val got = Embeddings.project(corpus, "vec_id", "vec", m)
      .select(col("id"), col("proj")).as[(Long, Seq[Long])].collect().toMap
    val rows = corpus.as[(Long, Seq[Double])].collect()
    rows.foreach { case (id, v) =>
      val q = v.zipWithIndex.map { case (x, i) =>
        java.math.BigDecimal.valueOf(x * m.quantScale)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue() - m.meanMicro(i) }
      val expect = m.componentsMicro.map(c => c.zip(q).map { case (w, x) => w * x }.sum).toSeq
      assert(got(id) == expect, s"projection mismatch for $id")
    }
    val ragged = Seq((99L, Array(1.0, 2.0))).toDF("vec_id", "vec")
    assert(Embeddings.project(ragged, "vec_id", "vec", m).count() == 0,
      "wrong-dimension vectors must drop, not fail the scan")
  }

  test("projection onto a full basis preserves exact quantized distances (rotation law)") {
    // with k = dim the projection is an orthogonal change of basis: squared
    // distances in projected space equal squared distances of the
    // quantized inputs up to the micro scaling (checked loosely — the
    // components themselves are micro-quantized)
    val dim = 5
    val corpus = axisCorpus(40, dim, Array(1.0, -2.0, 0.5, 3.0, 1.5))
    val m = Embeddings.trainPca(corpus, "vec", dim, dim)
    val proj = Embeddings.project(corpus, "vec_id", "vec", m)
      .select(col("id"), col("proj")).as[(Long, Seq[Long])].collect().toMap
    val raw = corpus.as[(Long, Seq[Double])].collect().toMap
    val ids = raw.keys.toSeq.sorted.take(10)
    for (a <- ids; b <- ids if a < b) {
      val d2raw = raw(a).zip(raw(b)).map { case (x, y) => (x - y) * (x - y) }.sum
      val d2proj = proj(a).zip(proj(b))
        .map { case (x, y) => val d = (x - y) / 1e12; d * d }.sum
      assert(math.abs(d2raw - d2proj) < 1e-4 * math.max(1.0, d2raw),
        s"distance must be preserved under the full-basis rotation: $d2raw vs $d2proj")
    }
  }

  test("frozen gate model provenance: re-training on sf0.001 embeddings reproduces the inlined basis") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = Embeddings.trainPca(e, "embedding", dim = 64, k = 4)
    assert(m.componentsMicro.map(_.toSeq).toSeq ==
      EntrySupport.FrozenPcaComponentsMicro.map(_.toSeq).toSeq,
      "frozen PCA basis drifted — re-derive the inlined array and its oracle")
    assert(m.meanMicro.toSeq == EntrySupport.FrozenPcaMeanMicro.toSeq,
      "frozen PCA mean drifted — re-derive the inlined array and its oracle")
  }

  test("centered projection of the corpus sums to (near) zero per component") {
    // Σ_docs proj_k = Σ_docs Σ_i (q_i − μ_i)·w_ki; μ is the rounded mean,
    // so the residual is bounded by n·(rounding error)·‖w‖₁
    val corpus = axisCorpus(100, 6, Array(1.0, 2.0, 3.0, -1.0, 0.5, 0.0))
    val m = Embeddings.trainPca(corpus, "vec", 6, 3)
    val sums = Embeddings.project(corpus, "vec_id", "vec", m)
      .select(explode(expr("transform(proj, (x, i) -> struct(i AS i, x AS x))")).as("e"))
      .groupBy("e.i").agg(sum("e.x").as("s")).collect()
      .map(r => r.getLong(1))
    // bound: 100 docs × 0.5 rounding × ‖w‖₁ ≤ 100 × 0.5 × 6×1e6
    sums.foreach(s => assert(math.abs(s) <= 100L * 3000000L,
      s"centered projections must sum to ~0, got ${sums.toSeq}"))
  }

  test("PCA-then-ANN composition: top-1 neighbors survive a full-basis rotation") {
    // the intended pipeline: project (here onto the full basis — a pure
    // rotation, so cosine structure is preserved exactly up to
    // quantization) and run the ANN tier on the projected vectors
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    // center = false: a pure rotation preserves raw cosine geometry, which
    // is what the downstream cosine-ANN comparison needs
    val m = Embeddings.trainPca(e, "vec", dim = 64, k = 64, center = false)
    val projected = Embeddings.project(e, "id", "vec", m)
      .select(col("id"), expr("transform(proj, x -> CAST(x AS DOUBLE))").as("vec"))
    val exact = graft.ops.Similarity.bruteForceTopK(e, e, k = 1)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toMap
    val rotated = graft.ops.Similarity.bruteForceTopK(projected, projected, k = 1)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toMap
    val agree = exact.count { case (q, n) => rotated.get(q).contains(n) }
    assert(agree >= 95, s"rotation must preserve nearly all top-1 neighbors, got $agree/100")
  }

  test("embeddingProfile: exact per-dim moments, collapsed-dim flag, partition-invariant") {
    import org.apache.spark.sql.functions._
    // dim 0 varies, dim 1 is constant (collapsed), dim 2 is always zero
    val vecs = Seq(
      (1L, Array(0.5, 0.25, 0.0)),
      (2L, Array(-0.5, 0.25, 0.0)),
      (3L, Array(1.0, 0.25, 0.0)),
      (4L, Array(0.5, 0.25))            // wrong dim: dropped
    ).toDF("vec_id", "vec")
    val prof = graft.ops.Embeddings.embeddingProfile(vecs, "vec", dim = 3)
      .orderBy("dim_idx").collect()
    assert(prof.length == 3)
    val d0 = prof(0)
    // (dim_idx, n, sum_micro, mean_micro, sum_sq_micro2, min, max, collapsed)
    assert(d0.getLong(1) == 3L && d0.getLong(2) == 1000000L)
    assert(d0.getLong(3) == 333333L, "truncated integer mean")
    assert(d0.getLong(4) == 1500000000000L, "0.25+0.25+1.0 in micro^2")
    assert(!d0.getBoolean(7))
    assert(prof(1).getBoolean(7), "constant dim must flag collapsed")
    assert(prof(2).getBoolean(7) && prof(2).getLong(2) == 0L)
    // partition invariance: long sums commute
    val re = graft.ops.Embeddings.embeddingProfile(vecs.repartition(7), "vec", dim = 3)
      .orderBy("dim_idx").collect()
    assert(re.map(_.toSeq).toSeq == prof.map(_.toSeq).toSeq)
  }

  test("normProfile: zero-vector count and exact norm2 extremes") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0)),
      (2L, Array(0.0, 0.0)),
      (3L, Array(0.0, 2.0))
    ).toDF("vec_id", "vec")
    val r = graft.ops.Embeddings.normProfile(vecs, "vec", dim = 2).collect().head
    // (n, n_zero, min_norm2, max_norm2, mean_norm2)
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L)
    assert(r.getLong(2) == 0L)
    assert(r.getLong(3) == 4000000000000L, "2.0 -> (2e6)^2")
    assert(r.getLong(4) == (1000000000000L + 4000000000000L) / 3)
  }

  test("l2Normalize: unit norms, zero vectors pass through") {
    val df = Seq((1L, Array(3.0, 4.0)), (2L, Array(0.0, 0.0)))
      .toDF("id", "vec")
      .select(col("id"), Embeddings.l2Normalize(col("vec")).as("n"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(df(1L) == Seq(0.6, 0.8))
    assert(df(2L) == Seq(0.0, 0.0), "zero vector must not divide by zero")
  }

  test("meanPool: exact integer means, wrong-dim drop, vector assembly order") {
    val df = Seq(
      ("a", Array(1.0, -0.5)), ("a", Array(0.0, 0.5)), ("a", Array(0.5, 0.25)),
      ("b", Array(2.0, 2.0)),
      ("b", Array(1.0, 1.0, 1.0)) // wrong dim: dropped
    ).toDF("g", "vec")
    val pooled = Embeddings.meanPool(df, "g", "vec", dim = 2).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // a dim0: (1000000 + 0 + 500000) div 3 = 500000; dim1: (-500000+500000+250000) div 3
    assert(pooled(("a", 0)) == (3L, 500000L))
    assert(pooled(("a", 1)) == (3L, 83333L))
    assert(pooled(("b", 0)) == (1L, 2000000L) && pooled(("b", 1)) == (1L, 2000000L))
    assert(pooled.size == 4)
    val vecs = Embeddings.meanPoolVectors(df, "g", "vec", dim = 2).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(vecs("a") == Seq(500000L, 83333L), "components must assemble in dim order")
    assert(vecs("b") == Seq(2000000L, 2000000L))
  }

  test("meanPool: negative-sum division truncates toward zero (cross-engine rule)") {
    val df = Seq(("g", Array(-1.0)), ("g", Array(0.25))).toDF("g", "vec")
    val r = Embeddings.meanPool(df, "g", "vec", dim = 1).collect().head
    // (-1000000 + 250000) div 2 = -375000 exactly (no floor to -375001)
    assert(r.getLong(3) == -375000L)
  }

  test("groupAffinity: exact centroid dots, ordered pairs, zero-norm cos 0") {
    // centroids by construction: a -> (1e6, 0), b -> (0, 1e6),
    // c -> (500000, 500000) (exact mean of (1,1) and (0,0)), z -> (0, 0)
    val df = Seq(
      ("a", Array(1.0, 0.0)), ("a", Array(1.0, 0.0)),
      ("b", Array(0.0, 1.0)),
      ("c", Array(1.0, 1.0)), ("c", Array(0.0, 0.0)),
      ("z", Array(0.0, 0.0))).toDF("g", "vec")
    val got = Embeddings.groupAffinity(df, "g", "vec", dim = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == Set(("a","b"), ("a","c"), ("a","z"), ("b","c"), ("b","z"), ("c","z")),
      "every unordered group pair exactly once, group_a < group_b")
    assert(got(("a","b")) == (0L, 0L), "orthogonal centroids score 0")
    // dot(a,c) = 1e6*5e5 = 5e11; cos = 5e11 / (1e6 * sqrt(2*(5e5)^2))
    val dotAC = 1000000L * 500000L
    val cosAC = math.floor(1000.0 * dotAC.toDouble /
      (math.sqrt(1e12) * math.sqrt(2.0 * 500000.0 * 500000.0))).toLong
    assert(got(("a","c")) == (dotAC, cosAC), "exact integer dot + IEEE cosine tail")
    assert(cosAC == 707L, "45-degree centroids score ~707 permille")
    assert(got(("a","z")) == (0L, 0L) && got(("b","z")) == (0L, 0L) &&
      got(("c","z")) == (0L, 0L), "zero-norm centroid scores cos 0, not NaN")
    // symmetric input order: b,c dot = 1e6*5e5 likewise
    assert(got(("b","c")) == (dotAC, cosAC))
  }

  test("groupAffinity: pair stage is an equi-join on dim_idx (no nested loop)") {
    val df = Seq(("a", Array(1.0, 0.0)), ("b", Array(0.0, 1.0))).toDF("g", "vec")
    val plan = Embeddings.groupAffinity(df, "g", "vec", dim = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"centroid pairing must be a hash-joinable equi-join on dim_idx:\n$plan")
  }

  test("centroidOutliers: exact integer distances, deterministic rank, planted outlier first") {
    // group g centroid = mean of (0,0),(0,0),(3,0) = (1e6, 0); the planted
    // far point (3,0) must rank 1
    val df = Seq(
      (1L, "g", Array(0.0, 0.0)), (2L, "g", Array(0.0, 0.0)),
      (3L, "g", Array(3.0, 0.0)),
      (4L, "h", Array(1.0, 1.0))).toDF("id0", "g", "vec")
    val got = Embeddings.centroidOutliers(df, "g", "id0", "vec", dim = 2)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(3L) == (("g", 4000000000000L, 1L)), "planted outlier: d2=(2e6)^2, rank 1")
    assert(got(1L) == (("g", 1000000000000L, 2L)) &&
      got(2L) == (("g", 1000000000000L, 3L)), "ties rank deterministically by id")
    assert(got(4L) == (("h", 0L, 1L)), "singleton group sits on its own centroid")
  }

  test("centroidOutliers: centroids broadcast — the vector scan never shuffles rows") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Embeddings.centroidOutliers(e, "label", "vec_id", "embedding", dim = 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"distance pass must join centroids broadcast:\n$plan")
  }

  test("projection scan is shuffle-free (components ride the closure)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = graft.ops.Embeddings.PcaModel(EntrySupport.FrozenPcaComponentsMicro,
      EntrySupport.FrozenPcaMeanMicro, 64, 1000000L)
    val plan = Embeddings.project(e, "vec_id", "embedding", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
  }

  test("marginPairs: dense-region runner-up kills the match, isolated pair survives") {
    import spark.implicits._
    // 2-D layout: q1 near c10 with c11 almost as close (dense -> rejected);
    // q2 near c20 with everything else far (isolated -> accepted)
    val corpus = Seq(
      (10L, Seq(100.0, 0.0)), (11L, Seq(98.0, 0.0)),
      (20L, Seq(0.0, 100.0)), (21L, Seq(3.0, 0.0)))
      .toDF("id", "vec")
    val queries = Seq((1L, Seq(10.0, 0.0)), (2L, Seq(0.0, 10.0))).toDF("id", "vec")
    val out = graft.ops.Similarity.marginPairs(queries, corpus, minMargin = 50L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(4)))).toMap
    // q1: dots 1000 vs 980 -> margin 20 < 50, dropped
    // q2: dots 1000 vs 0 -> margin 1000, kept
    assert(out == Map(2L -> ((20L, 1000L))))
    // single-candidate corpora yield no calibrated margin -> no output
    val single = graft.ops.Similarity.marginPairs(
      queries, corpus.where(col("id") === 10L), minMargin = 0L)
    assert(single.isEmpty)
  }

  test("job-count gate: kCenterSelect is linear in k (stateless rounds, no lineage growth)") {
    // mirrors GraphSpec's loop gates: each round is one TakeOrdered scan,
    // so jobs grow by a constant per added center
    import spark.implicits._
    def run(k: Int): Int = SparkTestBase.countJobs {
      val pts = (0 until 24)
        .map(i => (i.toLong, Seq((i * 37 % 24).toDouble, (i * 11 % 24).toDouble)))
        .toDF("id", "vec")
      graft.ops.Similarity.kCenterSelect(pts, "vec", "id", k, firstId = 0L).collect()
      ()
    }
    val j2 = run(2); val j4 = run(4); val j6 = run(6)
    val d1 = j4 - j2; val d2 = j6 - j4
    assert(d2 <= d1 + 4, s"kCenter job growth must be linear: j2=$j2 j4=$j4 j6=$j6")
    assert(d1 <= 20, s"per-center job cost out of bounds: j2=$j2 j4=$j4")
  }

  test("kCenterSelect: farthest-point rounds on a hand-laid 1-D line; ties break by id") {
    // line positions: id0 at 0, id1 at 10, id2 at 6, id3 at 1, id4 at 9
    // round 1 from id0: farthest is id1 (d2 = 100)
    // round 2: min-dists to {0, 10}: id2 -> min(36, 16) = 16; id3 -> 1;
    //          id4 -> min(81, 1) = 1   => pick id2, radius 16
    // round 3: id3 -> 1; id4 -> min(1, 9) = 1 — TIE at 1, id asc picks id3
    val pts = Seq((0L, 0.0), (1L, 10.0), (2L, 6.0), (3L, 1.0), (4L, 9.0))
      .toDF("id", "x").select(col("id"), array(col("x")).as("vec"))
    val sel = graft.ops.Similarity.kCenterSelect(pts, "vec", "id", k = 4, firstId = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sel == Seq((0L, 0L, 0L), (1L, 1L, 100L), (2L, 2L, 16L), (3L, 3L, 1L)))
    // radius curve is monotone non-increasing by construction
    val radii = sel.map(_._3).drop(1)
    assert(radii == radii.sorted.reverse)
  }

  test("kCenterSelect edges: absent firstId fails loudly; k past distinct points stops, no duplicates") {
    val pts = Seq((0L, 0.0), (1L, 10.0), (2L, 10.0)) // ids 1 and 2 coincide
      .toDF("id", "x").select(col("id"), array(col("x")).as("vec"))
    val e = intercept[IllegalArgumentException] {
      graft.ops.Similarity.kCenterSelect(pts, "vec", "id", k = 2, firstId = 99L)
    }
    assert(e.getMessage.contains("firstId=99"))
    // 3 points, 2 distinct positions, k = 3: after {0, 1} the farthest
    // remaining point (id2) is at distance 0 — selection stops at 2 rows
    val sel = graft.ops.Similarity.kCenterSelect(pts, "vec", "id", k = 3, firstId = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sel == Seq((0L, 0L, 0L), (1L, 1L, 100L)),
      s"covered corpus must not pad with duplicate centers: $sel")
  }

  test("labelNoiseByNeighbors: planted mislabel flags, clean clusters pass, weak majority holds fire") {
    import spark.implicits._
    // two tight clusters on orthogonal axes; id 4 sits in cluster A but
    // carries cluster B's label (the planted mislabel)
    def vA(eps: Double) = Array(1.0, eps, 0.0)
    def vB(eps: Double) = Array(0.0, eps, 1.0)
    val items = Seq(
      (1L, 0L, vA(0.01)), (2L, 0L, vA(0.02)), (3L, 0L, vA(0.03)),
      (4L, 1L, vA(0.04)),                         // planted mislabel
      (5L, 1L, vB(0.01)), (6L, 1L, vB(0.02)), (7L, 1L, vB(0.03)),
      (8L, 1L, vB(0.04))
    ).toDF("vec_id", "label", "vec")
    val out = graft.ops.Similarity.labelNoiseByNeighbors(items, "vec", "vec_id",
        "label", k = 3, minAgree = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getBoolean(5)))).toMap
    // id 4's three nearest are 1,2,3 (all label 0): majority 0 != own 1 -> flagged
    assert(out(4L) == ((0L, 3L, true)), s"got ${out(4L)}")
    // clean members of each cluster keep their own majority
    assert(!out(1L)._3 && !out(2L)._3 && !out(5L)._3 && !out(6L)._3)
    // id 4's label pollutes nothing: 1-3 still see majority 0
    assert(out(1L)._1 == 0L && out(3L)._1 == 0L)
    // minAgree above k: no majority can reach it, nothing flags
    val strict = graft.ops.Similarity.labelNoiseByNeighbors(items, "vec", "vec_id",
      "label", k = 3, minAgree = 4L)
    assert(strict.filter(col("flagged")).count() == 0L)
  }

  test("calibrationAudit: bucket accounting, boundary bucket, guards") {
    import spark.implicits._
    import graft.ops.Profile
    val rows = Seq(
      (50L, 0L), (80L, 1L),            // bucket 0: mean 65, observed 500
      (950L, 1L), (960L, 1L),          // bucket 9: mean 955, observed 1000
      (1000L, 1L))                     // boundary bucket 10
      .toDF("score", "label")
    val out = Profile.calibrationAudit(rows, "score", "label")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(out(0L) == ((2L, 1L, 65L, 500L, 435L)))
    assert(out(9L) == ((2L, 2L, 955L, 1000L, 45L)))
    assert(out(10L) == ((1L, 1L, 1000L, 1000L, 0L)))
    // ECE rollup over the same buckets: (2*435 + 2*45 + 1*0) / 5 = 192
    val ece = Profile.expectedCalibrationError(
      Profile.calibrationAudit(rows, "score", "label")).collect().head
    assert((ece.getLong(0), ece.getLong(1)) == ((5L, 192L)))
    // empty audit: n = 0, ece NULL
    val empty = Profile.expectedCalibrationError(
      Profile.calibrationAudit(rows.limit(0), "score", "label")).collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
    val bad = Seq((1200L, 1L)).toDF("score", "label")
    val e = intercept[Exception] {
      Profile.calibrationAudit(bad, "score", "label").collect()
    }
    assert(e.getMessage.contains("outside [0, 1000]") ||
      Option(e.getCause).exists(_.getMessage.contains("outside [0, 1000]")), e.getMessage)
    val nullLabel = Seq((Some(500L), Option.empty[Long])).toDF("score", "label")
    val e2 = intercept[Exception] {
      Profile.calibrationAudit(nullLabel, "score", "label").collect()
    }
    assert(e2.getMessage.contains("NULL label") ||
      Option(e2.getCause).exists(_.getMessage.contains("NULL label")), e2.getMessage)
  }
}
