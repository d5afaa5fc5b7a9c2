package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

class GraphSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  // a -> b, b -> a, a -> c : outdeg a=2, b=1; c dangling
  private def tri = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")

  test("pageRank: hand-computed integer fixed point (micro-units)") {
    // iter1: contrib a->b 500000, a->c 500000, b->a 1000000
    //   a = 150000 + 17*1000000/20 = 1000000; b = c = 150000 + 425000 = 575000
    // iter2: b's pr 575000 -> a gets 575000; a still sends 500000 each
    //   a = 150000 + (17*575000) div 20 = 638750; b = c = 575000
    val r1 = Graph.pageRank(tri, "src", "dst", iters = 1)
      .orderBy("node").collect().map(_.toSeq)
    assert(r1.toSeq == Seq(Seq("a", 1000000L), Seq("b", 575000L), Seq("c", 575000L)))
    val r2 = Graph.pageRank(tri, "src", "dst", iters = 2)
      .orderBy("node").collect().map(_.toSeq)
    assert(r2.toSeq == Seq(Seq("a", 638750L), Seq("b", 575000L), Seq("c", 575000L)))
  }

  test("pageRank: iters=0 is the uniform start mass; runs are deterministic") {
    val r0 = Graph.pageRank(tri, "src", "dst", iters = 0).collect()
    assert(r0.forall(_.getLong(1) == 1000000L) && r0.length == 3)
    val a = Graph.pageRank(tri, "src", "dst", iters = 3).orderBy("node").collect().toSeq
    val b = Graph.pageRank(tri, "src", "dst", iters = 3).orderBy("node").collect().toSeq
    assert(a.map(_.toSeq) == b.map(_.toSeq))
  }

  test("pageRank: a hub with many in-links outranks its spokes") {
    val spokes = (1 to 10).map(i => (s"n$i", "hub")) ++ (1 to 10).map(i => ("hub", s"n$i"))
    val edges = spokes.toDF("src", "dst")
    val pr = Graph.pageRank(edges, "src", "dst", iters = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert((1 to 10).forall(i => pr("hub") > pr(s"n$i")),
      s"hub must outrank spokes: $pr")
  }

  test("pageRank redistributeDangling: hand-computed rounds + mass retention") {
    // c is dangling, N = 3, share_i = floor(sum(pr of dangling)/3)
    // iter1: D = 1000000, share = 333333
    //   a = 150000 + 17*(1000000+333333) div 20 = 150000 + 1133333 = 1283333
    //   b = c = 150000 + 17*(500000+333333) div 20 = 150000 + 708333 = 858333
    val r1 = Graph.pageRank(tri, "src", "dst", iters = 1, redistributeDangling = true)
      .orderBy("node").collect().map(_.toSeq)
    assert(r1.toSeq == Seq(Seq("a", 1283333L), Seq("b", 858333L), Seq("c", 858333L)))
    // iter2: D = 858333, share = 286111
    //   a <- b: 858333; b,c <- a: 1283333 div 2 = 641666
    //   a = 150000 + 17*(858333+286111) div 20 = 1122777
    //   b = c = 150000 + 17*(641666+286111) div 20 = 938610
    val r2 = Graph.pageRank(tri, "src", "dst", iters = 2, redistributeDangling = true)
      .orderBy("node").collect().map(_.toSeq)
    assert(r2.toSeq == Seq(Seq("a", 1122777L), Seq("b", 938610L), Seq("c", 938610L)))
    // redistribution retains (nearly all of) the dangling mass the leaky
    // variant loses: totals vs the 3,000,000 starting mass
    val leaky = Graph.pageRank(tri, "src", "dst", iters = 2)
      .agg(sum("pr")).first().getLong(0)
    val kept = r2.map(_(1).asInstanceOf[Long]).sum
    assert(kept > leaky && kept <= 3000000L)
  }

  test("personalizedPageRank: hand-computed restart-at-seed rounds") {
    // seeds = {a}; pr0: a=10^6, b=c=0
    // iter1: b,c each get 10^6 div 2 from a; a gets 0 from b
    //   a = 150000 + 0 = 150000; b = c = 0 + (17*500000) div 20 = 425000
    // iter2: a gets 425000 from b; b,c get 150000 div 2 = 75000 from a
    //   a = 150000 + (17*425000) div 20 = 511250
    //   b = c = 0 + (17*75000) div 20 = 63750
    val seeds = Seq("a").toDF("n")
    val r1 = Graph.personalizedPageRank(tri, "src", "dst", seeds, "n", iters = 1)
      .orderBy("node").collect().map(_.toSeq)
    assert(r1.toSeq == Seq(Seq("a", 150000L), Seq("b", 425000L), Seq("c", 425000L)))
    val r2 = Graph.personalizedPageRank(tri, "src", "dst", seeds, "n", iters = 2)
      .orderBy("node").collect().map(_.toSeq)
    assert(r2.toSeq == Seq(Seq("a", 511250L), Seq("b", 63750L), Seq("c", 63750L)))
  }

  test("personalizedPageRank: seeds outside the graph are ignored; mass stays near seeds") {
    // two disjoint 2-cycles; seeding one leaves the other at exactly zero
    val e = Seq(("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")).toDF("src", "dst")
    val seeds = Seq("a", "ghost").toDF("n") // ghost not in the graph
    val pr = Graph.personalizedPageRank(e, "src", "dst", seeds, "n", iters = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr.keySet == Set("a", "b", "x", "y"), "ghost seed must not add a node")
    assert(pr("x") == 0L && pr("y") == 0L, s"unreachable component must hold zero mass: $pr")
    assert(pr("a") > 0L && pr("b") > 0L)
  }

  test("hits: hand-computed max-normalized rounds (micro-units)") {
    // 1->3, 2->3, 3->4: 1 and 2 are hubs, 3 is the authority
    val e = Seq(("1", "3"), ("2", "3"), ("3", "4")).toDF("src", "dst")
    // round 1: a_raw 3:2e6 4:1e6, max 2e6 -> a 3:1e6 4:500000
    //          h_raw 1:1e6 2:1e6 3:500000, max 1e6 -> h 1:1e6 2:1e6 3:500000
    val r1 = Graph.hits(e, "src", "dst", iters = 1)
    val m1 = r1.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    r1.unpersist()
    assert(m1 == Map("1" -> (1000000L, 0L), "2" -> (1000000L, 0L),
      "3" -> (500000L, 1000000L), "4" -> (0L, 500000L)))
    // round 2: a_raw 3:2e6 4:500000 -> a 3:1e6 4:250000
    //          h_raw 1:1e6 2:1e6 3:250000 -> h unchanged for 1,2; 3:250000
    val r2 = Graph.hits(e, "src", "dst", iters = 2)
    val m2 = r2.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    r2.unpersist()
    assert(m2 == Map("1" -> (1000000L, 0L), "2" -> (1000000L, 0L),
      "3" -> (250000L, 1000000L), "4" -> (0L, 250000L)))
  }

  test("hits: directory page scores hub, content pages score auth; deterministic") {
    val edges = ((1 to 8).map(i => ("dir", s"page$i")) ++
      Seq(("other", "page1"), ("other", "page2"))).toDF("src", "dst")
    val out = Graph.hits(edges, "src", "dst", iters = 3)
    val m = out.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    out.unpersist()
    assert(m("dir")._1 == 1000000L)                  // top hub
    assert(m("dir")._2 == 0L)                        // no in-links
    assert(m("page1")._2 > m("page3")._2)            // 2 in-links beat 1
    assert(m("page1")._1 == 0L)                      // pages link nowhere
    val again = Graph.hits(edges, "src", "dst", iters = 3)
    val m2 = again.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    again.unpersist()
    assert(m == m2)
  }

  // --- loop-lineage gates (SCALE.md "Iterative operators") ---------------
  // Plan-shape asserts can't see lineage blow-ups: the plan of round N looks
  // fine, only the number of Spark jobs explodes (each un-persisted frame
  // referenced twice per round doubles the lineage paths → 2^rounds job
  // fan-out). So these gates count JOBS via a listener and assert the
  // per-round delta is constant in iters — the round-4 regression (hits
  // re-executing the base join ~2^4 times for 2 rounds) fails them at
  // iters = 4 long before it costs seconds.
  private def countJobs(body: => Unit): Int = SparkTestBase.countJobs(body)

  test("job-count gate: hits is linear in iters (no lineage fan-out)") {
    def run(iters: Int): Int = countJobs {
      // unique node names per run — see the pageRank gate's cache note
      val edges = ((1 to 8).map(i => ("dir", s"page$i-i$iters")) ++
        Seq(("other", s"page1-i$iters"), ("other", s"page2-i$iters")))
        .toDF("src", "dst")
      val r = Graph.hits(edges, "src", "dst", iters = iters)
      r.collect(); r.unpersist(); ()
    }
    val j2 = run(2)
    val j4 = run(4)
    val j6 = run(6)
    // linear: each extra round adds a bounded number of jobs (one count
    // action + its AQE stage/broadcast jobs). An exponential regression
    // multiplies the per-round cost by 2^2 per added round pair, so the
    // second delta would dwarf the first.
    val d1 = j4 - j2
    val d2 = j6 - j4
    assert(d2 <= d1 + 4, s"hits job growth must be linear: j2=$j2 j4=$j4 j6=$j6")
    assert(d1 <= 40, s"per-round job cost out of bounds: j2=$j2 j4=$j4")
  }

  test("job-count gate: redistributeDangling pageRank is linear in iters") {
    def run(iters: Int): Int = countJobs {
      // unique node names per run: identical plans would silently reuse
      // the cache of an earlier test's run (CacheManager matches by
      // canonical plan), making the baseline job count vacuously small
      val uniq = Seq(("a", "b"), ("b", "a"), ("a", "c"))
        .map { case (s, d) => (s"$s-i$iters", s"$d-i$iters") }.toDF("src", "dst")
      val r = Graph.pageRank(uniq, "src", "dst", iters = iters,
        redistributeDangling = true)
      r.collect(); r.unpersist(); ()
    }
    val j2 = run(2)
    val j4 = run(4)
    val j6 = run(6)
    val d1 = j4 - j2
    val d2 = j6 - j4
    assert(d2 <= d1 + 4,
      s"pageRank(redistribute) job growth must be linear: j2=$j2 j4=$j4 j6=$j6")
    assert(d1 <= 40, s"per-round job cost out of bounds: j2=$j2 j4=$j4")
  }

  test("reciprocity: mutual pairs count both ways, self-loops and parallels drop") {
    // a<->b mutual (2 edges, both reciprocated), a->c one-way, c->c self,
    // duplicate a->b parallel collapses
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "c"), ("a", "b"))
      .toDF("src", "dst")
    val r = Graph.reciprocity(e, "src", "dst").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 666L)),
      s"3 simple edges, 2 reciprocated, 666 permille; got $r")
    // empty graph: zero row, no division error
    val z = Graph.reciprocity(Seq(("x", "x")).toDF("src", "dst"), "src", "dst")
      .collect().head
    assert((z.getLong(0), z.getLong(1), z.getLong(2)) == ((0L, 0L, 0L)))
  }

  test("job-count gate: personalizedPageRank is linear in iters") {
    def run(iters: Int): Int = countJobs {
      val uniq = Seq(("a", "b"), ("b", "a"), ("a", "c"))
        .map { case (s, d) => (s"$s-p$iters", s"$d-p$iters") }.toDF("src", "dst")
      val seeds = Seq(s"a-p$iters").toDF("n")
      val r = Graph.personalizedPageRank(uniq, "src", "dst", seeds, "n",
        iters = iters, persistEvery = 2)
      r.collect(); r.unpersist(); ()
    }
    val j2 = run(2)
    val j4 = run(4)
    val j6 = run(6)
    val d1 = j4 - j2
    val d2 = j6 - j4
    assert(d2 <= d1 + 4,
      s"personalizedPageRank job growth must be linear: j2=$j2 j4=$j4 j6=$j6")
    assert(d1 <= 40, s"per-round job cost out of bounds: j2=$j2 j4=$j4")
  }

  test("job-count gate: weightedPageRank is linear in iters") {
    def run(iters: Int): Int = countJobs {
      val uniq = Seq(("a", "b", 3L), ("b", "a", 2L), ("a", "c", 1L))
        .map { case (s, d, w) => (s"$s-w$iters", s"$d-w$iters", w) }
        .toDF("src", "dst", "w")
      val r = Graph.weightedPageRank(uniq, "src", "dst", "w",
        iters = iters, persistEvery = 2)
      r.collect(); r.unpersist(); ()
    }
    val j2 = run(2)
    val j4 = run(4)
    val j6 = run(6)
    val d1 = j4 - j2
    val d2 = j6 - j4
    assert(d2 <= d1 + 4,
      s"weightedPageRank job growth must be linear: j2=$j2 j4=$j4 j6=$j6")
    assert(d1 <= 40, s"per-round job cost out of bounds: j2=$j2 j4=$j4")
  }

  test("job-count gate: labelPropagation is linear in rounds") {
    def run(rounds: Int): Int = countJobs {
      val uniq = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"))
        .map { case (s, d) => (s"$s-l$rounds", s"$d-l$rounds") }.toDF("src", "dst")
      Graph.labelPropagation(uniq, "src", "dst", rounds = rounds).collect(); ()
    }
    val j2 = run(2)
    val j4 = run(4)
    val j6 = run(6)
    val d1 = j4 - j2
    val d2 = j6 - j4
    assert(d2 <= d1 + 4,
      s"labelPropagation job growth must be linear: j2=$j2 j4=$j4 j6=$j6")
    assert(d1 <= 40, s"per-round job cost out of bounds: j2=$j2 j4=$j4")
  }

  test("checkpointed loops release every replaced round: only the result's RDD stays persisted") {
    // each round's blocks must drop once the next round has materialized,
    // and a result built from rounds must not read released blocks — so
    // across one call the persistent-RDD set grows by at most the RDD the
    // returned frame reads (SCALE.md "Iterative operators")
    val chain = (0 until 6).map(i => (s"rel$i", s"rel${i + 1}")).toDF("src", "dst")
    val seeds = Seq("rel0").toDF("seed")
    val pairs = (0 until 6).map(i => (i + 500L, i + 501L)).toDF("idA", "idB")
    val judgments = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L)).toDF("w", "l")
    val loops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "seedDistance" -> (() => Graph.seedDistance(chain, "src", "dst", seeds, "seed", 4)),
      "seedAttribution" -> (() =>
        Graph.seedAttribution(chain, "src", "dst", seeds, "seed", 4)),
      "labelPropagation" -> (() => Graph.labelPropagation(chain, "src", "dst", rounds = 3)),
      "kCore" -> (() => Graph.kCore(chain, "src", "dst", k = 2L)),
      "connectedComponents" -> (() => graft.ops.Dedup.connectedComponents(pairs)),
      "connectedComponentsStar" -> (() => graft.ops.Dedup.connectedComponentsStar(pairs)),
      "bradleyTerry" -> (() => graft.ops.Curation.bradleyTerry(judgments, "w", "l", iters = 3)))
    for ((name, run) <- loops) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = run()
      out.collect()
      val added = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
      assert(added.size <= 1, s"$name left ${added.size} RDDs persisted: $added")
    }
  }

  test("job-count gate: star-contraction CC jobs stay proportional to executed rounds") {
    // the third iterative loop under the SCALE.md rule: a chain forces
    // multiple large/small-star rounds, and the per-round checkpoint must
    // keep jobs ∝ rounds — lineage fan-out would blow the ratio up
    def run(n: Int): (Int, Int) = {
      var rounds = 0
      val jobs = countJobs {
        val pairs = (0 until n - 1)
          .map(i => (i.toLong + 1000L * n, i.toLong + 1 + 1000L * n))
          .toDF("idA", "idB")
        val (cc, r) = graft.ops.Dedup.connectedComponentsStarWithRounds(pairs)
        rounds = r
        cc.collect(); ()
      }
      (jobs, rounds)
    }
    val (j1, r1) = run(32)
    val (j2, r2) = run(128)
    assert(r2 > r1, s"longer chain must take more rounds: $r1 vs $r2")
    val perRound1 = j1.toDouble / r1
    val perRound2 = j2.toDouble / r2
    assert(perRound2 <= perRound1 * 2 + 4,
      s"per-round job cost must stay bounded: n=32 -> $j1/$r1, n=128 -> $j2/$r2")
  }

  test("neighborJaccard: opposite corners of a 4-cycle are perfect mirrors") {
    // square a-b-c-d-a: N(a)=N(c)={b,d}, N(b)=N(d)={a,c} — the two
    // diagonals are the only overlapping pairs, both with full overlap
    val sq = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")).toDF("src", "dst")
    val r = Graph.neighborJaccard(sq, "src", "dst")
      .orderBy("node_a").collect().map(_.toSeq)
    assert(r.toSeq == Seq(
      Seq("a", "c", 2L, 2L, 2L, 1000L),
      Seq("b", "d", 2L, 2L, 2L, 1000L)))
    // minCommon above the max overlap empties the result
    assert(Graph.neighborJaccard(sq, "src", "dst", minCommon = 3).count() == 0)
  }

  test("neighborJaccard: maxWedgeDegree drops hub-mediated pairs (stop-neighbor guard)") {
    val star = (1 to 4).map(i => ("h", s"s$i")).toDF("src", "dst")
    // unguarded: every spoke pair shares exactly {h}
    val full = Graph.neighborJaccard(star, "src", "dst")
    assert(full.count() == 6)
    assert(full.select(max(col("common"))).first().getLong(0) == 1L)
    // hub degree 4 > guard 3: h centers no wedges, spokes have 1-element
    // neighborhoods — nothing left
    assert(Graph.neighborJaccard(star, "src", "dst", maxWedgeDegree = 3).count() == 0)
  }

  test("degrees: zero-filled in/out profile") {
    val d = Graph.degrees(tri, "src", "dst").orderBy("node").collect().map(_.toSeq)
    assert(d.toSeq == Seq(
      Seq("a", 2L, 1L), // out a->b, a->c; in b->a
      Seq("b", 1L, 1L),
      Seq("c", 0L, 1L)))
  }

  test("degreeAssortativity: star is maximally disassortative, ladder of equals is NULL") {
    // star: hub degree 5 pairs only with leaves of degree 1 — every
    // directed pair is (1,5) or (5,1): perfect anti-correlation
    val star = (1 to 5).map(i => (0L, i.toLong)).toDF("src", "dst")
    val s = Graph.degreeAssortativity(star, "src", "dst").collect().head
    assert(s.getLong(2) == 10L, "n = 2 x edges")
    assert(s.getLong(8) == -1000L, s"star must be perfectly disassortative: $s")
    // cycle: every node degree 2 — constant degrees, correlation undefined
    val cyc = ((1 until 6).map(i => (i.toLong, (i + 1).toLong)) :+ (6L, 1L)).toDF("src", "dst")
    val c = Graph.degreeAssortativity(cyc, "src", "dst").collect().head
    assert(c.isNullAt(8), "constant-degree graph has no defined assortativity")
  }

  test("labelPropagation: two cliques with a bridge settle into two communities") {
    // cliques {1..4} and {11..14} joined by one bridge edge 4-11
    val cl = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong)) ++
      (for { a <- 11 to 14; b <- 11 to 14 if a < b } yield (a.toLong, b.toLong)) :+ (4L, 11L)
    val out = Graph.labelPropagation(cl.toDF("src", "dst"), "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = (1 to 4).map(i => out(i.toLong)).toSet
    val c2 = (11 to 14).map(i => out(i.toLong)).toSet
    assert(c1.size == 1 && c2.size == 1, s"each clique must agree internally: $out")
    assert(c1 != c2, s"bridge must not fuse the cliques (CC would): $out")
    // rounds = 0 is the identity labeling
    val id0 = Graph.labelPropagation(cl.toDF("src", "dst"), "src", "dst", rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(id0.forall { case (n, l) => n == l })
    // deterministic across runs
    val again = Graph.labelPropagation(cl.toDF("src", "dst"), "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)
  }

  test("kCore: clique survives, pendants peel, chain collapses, cycle holds") {
    // K4 with a pendant path hanging off node 1: 1-2-3-4 clique, 1-5-6 tail
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong))
    val g = (k4 ++ Seq((1L, 5L), (5L, 6L))).toDF("src", "dst")
    val core3 = Graph.kCore(g, "src", "dst", k = 3L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "3-core = the clique; tail peels in 2 rounds and deg is WITHIN-core")
    // pure path: 2-core is empty (endpoints peel until nothing remains)
    val path = (1 until 6).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    assert(Graph.kCore(path, "src", "dst", k = 2L).isEmpty)
    // cycle: every node is exactly degree 2 — the 2-core is the whole cycle
    val cyc = ((1 until 6).map(i => (i.toLong, (i + 1).toLong)) :+ (6L, 1L)).toDF("src", "dst")
    val core2 = Graph.kCore(cyc, "src", "dst", k = 2L).collect()
    assert(core2.length == 6 && core2.forall(_.getLong(1) == 2L))
  }

  test("job-count gate: kCore jobs stay proportional to peel rounds") {
    // a path of length L peels from both ends: rounds grow with L, and
    // jobs must grow LINEARLY with rounds (localCheckpoint per round)
    def run(len: Int): Int = countJobs {
      val path = (1 until len).map(i => (s"p$len-$i", s"p$len-${i + 1}")).toDF("src", "dst")
      Graph.kCore(path, "src", "dst", k = 2L).count(); ()
    }
    val j6 = run(6) // 3 peel rounds (incl. the fixed-point probe)
    val j12 = run(12) // 6 peel rounds
    // linear: doubling rounds at most ~doubles jobs plus a constant; a
    // lineage fan-out would go combinatorial
    assert(j12 <= 2 * j6 + 6, s"j6=$j6 j12=$j12 — job growth must be linear in rounds")
  }

  test("triangles: K4 clique, bipartite zero, and direction/multi-edge immunity") {
    // K4: every node deg 3, C(3,2)=3 triangles each, lcc = 1000 permille
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val r = Graph.triangles(k4, "src", "dst").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).sorted
    assert(r.toSeq == (1 to 4).map(i => (i.toLong, 3L, 3L, 1000L)))
    // reversed + duplicated edges change nothing (undirected simple graph)
    val noisy = k4.unionAll(k4.select(col("dst").as("src"), col("src").as("dst"))).unionAll(k4)
    val r2 = Graph.triangles(noisy, "src", "dst").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).sorted
    assert(r2.toSeq == r.toSeq)
    // bipartite graphs have no odd cycles: zero triangles everywhere
    val bip = (for { a <- 1 to 3; b <- 10 to 13 } yield (a.toLong, b.toLong)).toDF("src", "dst")
    val rb = Graph.triangles(bip, "src", "dst").collect()
    assert(rb.length == 7 && rb.forall(_.getLong(2) == 0L))
  }

  test("triangles: equals the brute-force 3-subset count on a hashed random graph") {
    val edges = (0 until 300).map { i =>
      val h = i * 2654435761L
      ((math.abs(h) % 25).toInt.toLong, (math.abs(h >> 7) % 25).toInt.toLong)
    }.filter(p => p._1 != p._2).toDF("src", "dst")
    val got = Graph.triangles(edges, "src", "dst").collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    // brute force: canonical simple edges, all (i<j<k) with the 3 edges present
    val simple = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = simple.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    var per = Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- nodes; j <- nodes if i < j; k <- nodes if j < k
      if simple((i, j)) && simple((j, k)) && simple((i, k))
    } { per = per + (i -> (per(i) + 1)) + (j -> (per(j) + 1)) + (k -> (per(k) + 1)) }
    nodes.foreach { n => assert(got.getOrElse(n, 0L) == per(n), s"node $n") }
    // global count: sum/3 consistency
    assert(got.values.sum % 3 == 0)
  }

  test("weightedPageRank: hand-computed weighted round; uniform weights equal plain") {
    // a->b w3, a->c w1, b->a w2: sumw a=4, b=2; c dangling
    // iter1 contribs: b += (1e6*3) div 4 = 750000; c += 250000; a += 1e6
    //   a = 150000 + 850000 = 1000000
    //   b = 150000 + (17*750000) div 20 = 787500
    //   c = 150000 + (17*250000) div 20 = 362500
    val we = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "a", 2L))
      .toDF("src", "dst", "w")
    val r = Graph.weightedPageRank(we, "src", "dst", "w", iters = 1)
    val m = r.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    r.unpersist()
    assert(m == Map("a" -> 1000000L, "b" -> 787500L, "c" -> 362500L))
    // law: all-equal weights reduce to plain pageRank (quotients identical)
    val uw = tri.withColumn("w", lit(7L))
    val wpr = Graph.weightedPageRank(uw, "src", "dst", "w", iters = 3)
    val got = wpr.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    wpr.unpersist()
    val plain = Graph.pageRank(tri, "src", "dst", iters = 3)
    val want = plain.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    plain.unpersist()
    assert(got == want)
  }

  test("seedDistance: shortest hops on a branching graph, radius cut, isolated seed") {
    // s -> a -> b -> c -> d (chain) plus shortcut s -> b; x isolated seed;
    // unreachable island y -> z
    val edges = Seq(("s", "a"), ("a", "b"), ("b", "c"), ("c", "d"),
      ("s", "b"), ("y", "z")).toDF("src", "dst")
    val seeds = Seq("s", "x").toDF("seed")
    val d = Graph.seedDistance(edges, "src", "dst", seeds, "seed", maxHops = 2)
    val m = d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    d.unpersist()
    // shortcut wins: b is 1 hop, not 2; c first reached at 2; d outside radius
    assert(m == Map("s" -> 0L, "x" -> 0L, "a" -> 1L, "b" -> 1L, "c" -> 2L))
    // full radius reaches d at 3; island stays absent; seed at 0 even if it
    // is also reachable later (first discovery wins)
    val d3 = Graph.seedDistance(edges, "src", "dst", seeds, "seed", maxHops = 9)
    val m3 = d3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    d3.unpersist()
    assert(m3 == m + ("d" -> 3L))
  }

  test("seedAttribution: min seed over shortest paths; hops agree with seedDistance") {
    // s1->a, s2->a, s2->b, b->c: a is 1 hop from BOTH seeds -> min "s1";
    // c only via s2's branch
    val edges = Seq(("s1", "a"), ("s2", "a"), ("s2", "b"), ("b", "c"))
      .toDF("src", "dst")
    val seeds = Seq("s2", "s1").toDF("seed")
    val at = Graph.seedAttribution(edges, "src", "dst", seeds, "seed", maxHops = 5)
    val m = at.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    at.unpersist()
    assert(m == Map("s1" -> ((0L, "s1")), "s2" -> ((0L, "s2")),
      "a" -> ((1L, "s1")), "b" -> ((1L, "s2")), "c" -> ((2L, "s2"))))
    // law: dropping the seed column reproduces seedDistance exactly
    val d = Graph.seedDistance(edges, "src", "dst", seeds, "seed", maxHops = 5)
    val md = d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    d.unpersist()
    assert(md == m.map { case (k, v) => k -> v._1 })
  }

  test("seedDistance: maxHops=0 is the seed set; empty seeds empty output") {
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val d0 = Graph.seedDistance(edges, "src", "dst", Seq("a", "a").toDF("s"), "s", 0)
    assert(d0.collect().map(_.toSeq).toSeq == Seq(Seq("a", 0L)))
    d0.unpersist()
    val de = Graph.seedDistance(edges, "src", "dst",
      Seq.empty[String].toDF("s"), "s", 5)
    assert(de.isEmpty)
    de.unpersist()
  }

  test("job-count gate: seedAttribution is linear in hops") {
    def run(hops: Int): Int = countJobs {
      val edges = (0 until 16)
        .map(i => (s"a$i-h$hops", s"a${i + 1}-h$hops")).toDF("src", "dst")
      val seeds = Seq(s"a0-h$hops").toDF("seed")
      val r = Graph.seedAttribution(edges, "src", "dst", seeds, "seed", hops)
      r.collect(); r.unpersist(); ()
    }
    val j2 = run(2)
    val j4 = run(4)
    val j6 = run(6)
    val d1 = j4 - j2
    val d2 = j6 - j4
    assert(d2 <= d1 + 4, s"seedAttribution job growth must be linear: j2=$j2 j4=$j4 j6=$j6")
    assert(d1 <= 40, s"per-round job cost out of bounds: j2=$j2 j4=$j4")
  }

  test("job-count gate: seedDistance is linear in hops (frontier-only expansion)") {
    def run(hops: Int): Int = countJobs {
      // a long chain so every round has a non-empty frontier
      val edges = (0 until 16)
        .map(i => (s"c$i-h$hops", s"c${i + 1}-h$hops")).toDF("src", "dst")
      val seeds = Seq(s"c0-h$hops").toDF("seed")
      val r = Graph.seedDistance(edges, "src", "dst", seeds, "seed", hops)
      r.collect(); r.unpersist(); ()
    }
    val j2 = run(2)
    val j4 = run(4)
    val j6 = run(6)
    val d1 = j4 - j2
    val d2 = j6 - j4
    assert(d2 <= d1 + 4, s"seedDistance job growth must be linear: j2=$j2 j4=$j4 j6=$j6")
    assert(d1 <= 40, s"per-round job cost out of bounds: j2=$j2 j4=$j4")
  }
}
