package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Temporal

class TemporalSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  // left: (key, t, lv)   right: (key, t, rv)
  private def left = Seq(
    ("a", 10L, "l1"), ("a", 20L, "l2"), ("a", 30L, "l3"),
    ("b", 15L, "l4"),
    ("c", 5L, "l5") // key with no right rows at all
  ).toDF("k", "t", "lv")

  private def right = Seq(
    ("a", 10L, "r1"), ("a", 25L, "r2"),
    ("b", 40L, "r3")
  ).toDF("k", "t", "rv")

  test("backward as-of: latest right at-or-before each left row, inclusive bound") {
    val out = Temporal.asofJoin(left, right, Seq("k"), "t")
      .orderBy("k", "t").collect()
    // a@10 matches r1@10 (inclusive); a@20 -> r1@10; a@30 -> r2@25
    assert(out(0).toSeq == Seq("a", 10L, "l1", 10L, "r1"))
    assert(out(1).toSeq == Seq("a", 20L, "l2", 10L, "r1"))
    assert(out(2).toSeq == Seq("a", 30L, "l3", 25L, "r2"))
    // b@15 has no right <= 15 -> nulls (left join)
    assert(out(3).toSeq == Seq("b", 15L, "l4", null, null))
    // c has no right rows -> nulls
    assert(out(4).toSeq == Seq("c", 5L, "l5", null, null))
  }

  test("forward as-of: earliest right at-or-after, inclusive; inner drops unmatched") {
    val out = Temporal.asofJoin(left, right, Seq("k"), "t",
      direction = "forward", joinType = "inner")
      .orderBy("k", "t").collect()
    // a@10 -> r1@10 (inclusive); a@20 -> r2@25; a@30 -> none (dropped)
    // b@15 -> r3@40; c -> none
    assert(out.map(_.toSeq).toSeq == Seq(
      Seq("a", 10L, "l1", 10L, "r1"),
      Seq("a", 20L, "l2", 25L, "r2"),
      Seq("b", 15L, "l4", 40L, "r3")))
  }

  test("tolerance bounds the match distance; left join nulls out-of-tolerance") {
    val out = Temporal.asofJoin(left, right, Seq("k"), "t", tolerance = Some(5L))
      .orderBy("k", "t").collect()
    // a@10 -> r1@10 (d=0 ok); a@20 -> r1@10 (d=10 > 5 -> null); a@30 -> r2@25 (d=5 ok)
    assert(out(0).toSeq == Seq("a", 10L, "l1", 10L, "r1"))
    assert(out(1).toSeq == Seq("a", 20L, "l2", null, null))
    assert(out(2).toSeq == Seq("a", 30L, "l3", 25L, "r2"))
  }

  test("right rows tied on (key, time) resolve to a deterministic winner") {
    val dupRight = Seq(("a", 10L, "rB"), ("a", 10L, "rA")).toDF("k", "t", "rv")
    val l = Seq(("a", 20L, "l1")).toDF("k", "t", "lv")
    val runs = (1 to 3).map { _ =>
      Temporal.asofJoin(l, dupRight, Seq("k"), "t").collect().head.toSeq
    }
    assert(runs.distinct.size == 1)
    // backward uses last() over struct-ordered ties -> max payload struct = rB
    assert(runs.head == Seq("a", 20L, "l1", 10L, "rB"))
  }

  test("as-of matches a brute-force window argmax on real event data") {
    val e = EntrySupport.t(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
    val l = e.filter(col("event_id") % 3 === 0).withColumnRenamed("event_id", "lid")
    val r = e.filter(col("event_id") % 3 === 1).withColumnRenamed("event_id", "rid")
      // unique (key, time): keep min rid to make brute force well-defined
      .groupBy("user_id", "t").agg(min("rid").as("rid"))
    val fast = Temporal.asofJoin(l, r, Seq("user_id"), "t", joinType = "inner")
      .select("user_id", "t", "lid", "r_t", "r_rid")
    val brute = l.as("l").join(r.as("r"),
        col("l.user_id") === col("r.user_id") && col("r.t") <= col("l.t"))
      .groupBy(col("l.user_id").as("user_id"), col("l.t").as("t"), col("lid"))
      .agg(max(struct(col("r.t"), col("rid"))).as("m"))
      .select(col("user_id"), col("t"), col("lid"),
        col("m.t").as("r_t"), col("m.rid").as("r_rid"))
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
    assert(fast.count() > 0)
  }

  test("range join: closed bounds, key equality, equals the naive theta join") {
    val pts = Seq(("a", 5L, 100L), ("a", 10L, 101L), ("a", 25L, 102L), ("b", 5L, 103L))
      .toDF("k", "v", "pid")
    val ivs = Seq(("a", 0L, 10L, 1L), ("a", 8L, 9L, 2L), ("a", 20L, 30L, 3L),
        ("b", 6L, 7L, 4L), ("a", 50L, 40L, 5L) /* inverted: dropped */)
      .toDF("k", "s", "e", "iid")
    val out = Temporal.rangeJoin(pts, "v", ivs, "s", "e",
        keyCols = Seq("k"), bucketWidth = 4L)
      .select("k", "v", "pid", "i_s", "i_e", "i_iid")
    val naive = pts.join(ivs, Seq("k"))
      .where(col("v") >= col("s") && col("v") <= col("e"))
      .select(col("k"), col("v"), col("pid"),
        col("s").as("i_s"), col("e").as("i_e"), col("iid").as("i_iid"))
    assert(out.exceptAll(naive).isEmpty && naive.exceptAll(out).isEmpty)
    // sanity on the closed bounds: v=5 in [0,10]; v=10 in [0,10]; v=25 in [20,30]
    assert(out.count() == 3)
  }

  test("sessionize: gap splits, ties never split, 1-based per-key ordinals") {
    val e = Seq(
      ("u1", 0L), ("u1", 10L), ("u1", 11L), ("u1", 11L), ("u1", 50L),
      ("u2", 5L)
    ).toDF("k", "t")
    val out = Temporal.sessionize(e, Seq("k"), "t", gap = 20L)
      .orderBy("k", "t").collect().map(_.toSeq)
    assert(out.toSeq == Seq(
      Seq("u1", 0L, 1L), Seq("u1", 10L, 1L), Seq("u1", 11L, 1L),
      Seq("u1", 11L, 1L), Seq("u1", 50L, 2L), // 50-11=39 > 20 -> new session
      Seq("u2", 5L, 1L)))
  }

  test("sessionStats aggregates the labeled stream; counts match streaming session_window semantics") {
    val e = EntrySupport.t(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t"))
    val gapUs = 3600L * 1000000L
    val stats = Temporal.sessionStats(e, Seq("user_id"), "t", gapUs)
    // invariants: sessions tile the per-user history — n_events sums to
    // rowcount; every session spans <= its event gaps (start<=end); and the
    // batch session count equals the built-in session_window's count
    assert(stats.agg(sum("n_events")).collect()(0).getLong(0) == e.count())
    assert(stats.where(col("session_start") > col("session_end")).isEmpty)
    val builtin = e
      .withColumn("ts", timestamp_micros(col("t")))
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id")).count()
    assert(stats.count() == builtin.count(),
      "batch sessionize must agree with streaming session_window gap semantics")
  }

  test("funnel: strictly-ordered greedy progression, per-key depth") {
    val e = Seq(
      // u1 completes A@1 -> B@5 -> C@9
      ("u1", 1L, "A"), ("u1", 5L, "B"), ("u1", 9L, "C"),
      // u2: B before A -> only A counts (depth 1); C without B doesn't fire
      ("u2", 3L, "B"), ("u2", 4L, "A"), ("u2", 2L, "C"),
      // u3: A then B at the SAME time -> strict order rejects B (depth 1)
      ("u3", 7L, "A"), ("u3", 7L, "B"),
      // u4: no step events at all
      ("u4", 1L, "X")
    ).toDF("k", "t", "typ")
    val out = Temporal.funnel(e, Seq("k"), "t", Seq(
      col("typ") === "A", col("typ") === "B", col("typ") === "C"))
      .orderBy("k").collect().map(_.toSeq)
    assert(out.toSeq == Seq(
      Seq("u1", 1L, 5L, 9L, 3L),
      Seq("u2", 4L, null, null, 1L),
      Seq("u3", 7L, null, null, 1L),
      Seq("u4", null, null, null, 0L)))
  }

  test("funnel: greedy earliest step choice is optimal (A@1 enables B@2 that A@3 would miss)") {
    val e = Seq(("u", 1L, "A"), ("u", 3L, "A"), ("u", 2L, "B")).toDF("k", "t", "typ")
    val out = Temporal.funnel(e, Seq("k"), "t",
      Seq(col("typ") === "A", col("typ") === "B")).collect().head
    assert(out.toSeq == Seq("u", 1L, 2L, 2L))
  }

  test("cohort retention: hand-checked matrix; cell(0) counts every cohort member") {
    // period 10: u1 first at 5 (cohort 0), active at +0 and +11 (idx 1);
    // u2 first at 12 (cohort 1), period 0 twice (distinct-counted once)
    // and (45-12)=33 -> idx 3; u3 cohort 0, only period 0
    val e = Seq(
      ("u1", 5L), ("u1", 16L), ("u2", 12L), ("u2", 13L), ("u2", 45L),
      ("u3", 7L)
    ).toDF("u", "t")
    val out = Temporal.cohortRetention(e, "u", "t", period = 10L)
      .orderBy("cohort", "period_idx").collect().map(_.toSeq)
    assert(out.toSeq == Seq(
      Seq(0L, 0L, 2L), // u1, u3
      Seq(0L, 1L, 1L), // u1@16: (16-5)=11 div 10 = 1
      Seq(1L, 0L, 1L),
      Seq(1L, 3L, 1L)))
  }

  test("bucket/cohort arithmetic is integral beyond 2^53 (no double rounding)") {
    // values where IEEE double division visibly diverges from integer div
    val ts = Seq((1L << 60) + 1L, (1L << 60) + 7L, (1L << 62) - 3L, 9007199254740993L)
    val big = ts.toDF("t").withColumn("u", lit("x"))
    val got = Temporal.cohortRetention(big, "u", "t", period = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ft = ts.min
    val exp = ts.map(t => (Math.floorDiv(ft, 7L), Math.floorDiv(t - ft, 7L)))
      .groupBy(identity).map { case (cell, xs) => (cell._1, cell._2, 1L) }.toSet
    assert(got == exp, s"got $got exp $exp")
  }

  test("rolling: trailing RANGE window sums and counts; equal times are peers") {
    val e = Seq(
      ("u", 0L, 1L), ("u", 5L, 2L), ("u", 5L, 4L), ("u", 20L, 8L),
      ("v", 5L, 16L)
    ).toDF("k", "t", "v")
    val out = Temporal.rolling(e, Seq("k"), "t", window = 10L, valueCol = "v")
      .orderBy("k", "t", "v").collect().map(_.toSeq)
    assert(out.toSeq == Seq(
      Seq("u", 0L, 1L, 1L, 1L),            // [.,-10..0] -> just itself
      Seq("u", 5L, 2L, 7L, 3L),            // peers at t=5 share the frame
      Seq("u", 5L, 4L, 7L, 3L),
      Seq("u", 20L, 8L, 8L, 1L),           // 20-10=10 > 5 -> alone
      Seq("v", 5L, 16L, 16L, 1L)))
  }

  test("interval join: overlap semantics equal the naive theta join; one row per pair") {
    val l = Seq(("a", 0L, 10L, 1L), ("a", 20L, 30L, 2L), ("b", 5L, 6L, 3L),
      ("a", 50L, 40L, 4L) /* inverted: dropped */).toDF("k", "ls", "le", "lid")
    val r = Seq(("a", 8L, 25L, 10L), ("a", 30L, 31L, 11L), ("b", 7L, 9L, 12L))
      .toDF("k", "rs", "re", "rid")
    val out = Temporal.intervalJoin(l, "ls", "le", r, "rs", "re",
      keyCols = Seq("k"), bucketWidth = 4L)
      .select("k", "lid", "r_rid")
    val naive = l.join(r, Seq("k"))
      .where(col("ls") <= col("re") && col("rs") <= col("le") && col("ls") <= col("le"))
      .select(col("k"), col("lid"), col("rid").as("r_rid"))
    assert(out.exceptAll(naive).isEmpty && naive.exceptAll(out).isEmpty)
    // [0,10]x[8,25] overlap; [20,30]x[8,25] overlap; [20,30]x[30,31] touch
    // at 30 (closed bounds); b: [5,6]x[7,9] no overlap
    assert(out.count() == 3)
  }

  test("interval join emits each overlapping pair exactly once regardless of width") {
    val l = spark.range(50).select(col("id").as("lid"),
      (col("id") * 3).as("ls"), (col("id") * 3 + 17).as("le"))
    val r = spark.range(40).select(col("id").as("rid"),
      (col("id") * 5).as("rs"), (col("id") * 5 + 9).as("re"))
    val w2 = Temporal.intervalJoin(l, "ls", "le", r, "rs", "re", bucketWidth = 2L)
    val w64 = Temporal.intervalJoin(l, "ls", "le", r, "rs", "re", bucketWidth = 64L)
    assert(w2.count() == w64.count() && w2.count() > 50)
    assert(w2.groupBy("lid", "r_rid").count().where(col("count") > 1).isEmpty,
      "pairs must be emitted from exactly one cell")
  }

  test("range join bucket width does not change results") {
    val pts = spark.range(200).select((col("id") * 7 % 97).as("v"), col("id").as("pid"))
    val ivs = spark.range(40).select((col("id") * 5).as("s"),
      (col("id") * 5 + col("id") % 11).as("e"), col("id").as("iid"))
    val r1 = Temporal.rangeJoin(pts, "v", ivs, "s", "e", bucketWidth = 1L)
    val r64 = Temporal.rangeJoin(pts, "v", ivs, "s", "e", bucketWidth = 64L)
    assert(r1.exceptAll(r64).isEmpty && r64.exceptAll(r1).isEmpty)
    assert(r1.count() > 0)
  }

  test("gaps: inter-event holes above threshold; ties never open or duplicate a gap") {
    val e = Seq(("a", 0L), ("a", 10L), ("a", 100L), ("a", 100L), ("a", 105L),
      ("b", 0L), ("b", 500L)).toDF("k", "ts")
    val out = Temporal.gaps(e, Seq("k"), "ts", minGap = 50L)
      .orderBy("k", "gap_end").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // a: 10→100 is the only >50 hole (the 100-tie contributes delta 0,
    // and exactly one of the tied rows closes the gap); b: 0→500
    assert(out.toSeq == Seq(("a", 10L, 100L, 90L), ("b", 0L, 500L, 500L)))
  }

  test("anomalies: trailing z-score flags spikes, never its own frame, minPoints gate") {
    // 5 reference points (mean 10, some variance), then one normal and one
    // spike probe — z² is integer-compared: dev=(x·n−s), den=(n·q−s²)
    val e = Seq(
      ("a", 1L, 10L), ("a", 2L, 12L), ("a", 3L, 8L), ("a", 4L, 11L), ("a", 5L, 9L),
      ("a", 6L, 11L),  // dev=5 → 25e6 ≤ 9e6·50 → normal
      ("a", 7L, 30L)   // spike vs refreshed frame
    ).toDF("k", "ts", "v")
    val out = Temporal.anomalies(e, Seq("k"), "ts", "v",
      windowUs = 100L, kPermille = 3000L, minPoints = 5L)
      .orderBy("ts").collect().map(r => (r.getLong(1), r.getLong(3), r.getBoolean(4)))
    // first 5 points: n_ref < minPoints → never flagged
    assert(out.take(5).forall(!_._3))
    assert(out(5) == ((6L, 5L, false)))
    assert(out(6)._2 == 6L && out(6)._3, s"spike must flag: ${out.toSeq}")
  }

  test("anomalies: zero-variance reference flags any deviation; ties share a frame") {
    val e = Seq(
      ("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 10L), ("a", 4L, 10L), ("a", 5L, 10L),
      ("a", 6L, 10L), ("a", 6L, 100L) // equal-time peers: identical frames
    ).toDF("k", "ts", "v")
    val out = Temporal.anomalies(e, Seq("k"), "ts", "v",
      windowUs = 100L, kPermille = 3000L, minPoints = 5L)
      .orderBy("ts", "v").collect().map(r => (r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val atSix = out.filter(_._2 == 5L)
    // both ts=6 rows reference ONLY the 5 earlier points (self+peer excluded):
    // the on-mean value passes, the deviating one trips the zero-variance limit
    assert(atSix.toSeq == Seq((10L, 5L, false), (100L, 5L, true)))
  }

  test("trendingTopK: per-window ranks, deterministic ties, k cut") {
    val e = Seq(
      // window 0: a×3, b×2, c×1, d×1 (c/d tie → c first alphabetically)
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "c"), (7L, "d"),
      // window 10: b×2, a×1
      (12L, "b"), (13L, "b"), (14L, "a")
    ).toDF("t", "item")
    val out = graft.ops.Temporal.trendingTopK(e, "t", "item", windowMs = 10L, k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out((0L, "a")) == (3L, 1L) && out((0L, "b")) == (2L, 2L))
    assert(out((0L, "c")) == (1L, 3L), "alphabetical tie: c ranks before d")
    assert(!out.contains((0L, "d")), "k = 3 cuts d")
    assert(out((10L, "b")) == (2L, 1L) && out((10L, "a")) == (1L, 2L))
    assert(out.size == 5)
  }

  test("journeyMatch: adjacency regex, time order, same-ts determinism") {
    val e = Seq(
      // u1: click then purchase adjacent — matches
      ("u1", 10L, 1L, "view"), ("u1", 20L, 2L, "click"), ("u1", 30L, 3L, "purchase"),
      // u2: click ... view ... purchase — adjacency broken, no match
      ("u2", 10L, 4L, "click"), ("u2", 20L, 5L, "view"), ("u2", 30L, 6L, "purchase"),
      // u3: same timestamp — id order pins the journey
      ("u3", 10L, 8L, "purchase"), ("u3", 10L, 7L, "click")
    ).toDF("u", "t", "id", "typ")
    val out = graft.ops.Temporal.journeyMatch(e, Seq("u"), "t", "id", "typ",
      ".*click>purchase.*").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(out("u1") == ("view>click>purchase", true))
    assert(out("u2") == ("click>view>purchase", false),
      "funnel would match this; adjacency must not")
    assert(out("u3") == ("click>purchase", true), "same-ts order pinned by id")
  }

  test("seasonality: integer calendar cells (dow 0 = Monday), distinct actors") {
    val hour = 3600000000L
    val day = 24 * hour
    // epoch day 0 = Thursday -> dow (0+3)%7 = 3; day 4 = Monday -> dow 0
    val df = Seq(
      (0L * day + 5 * hour, 1L), (0L * day + 5 * hour + 1, 1L), // Thu 05: 2 ev, 1 actor
      (4L * day + 0 * hour, 2L), (4L * day + 0 * hour + 7, 3L)) // Mon 00: 2 ev, 2 actors
      .toDF("ts_us", "uid")
    val got = graft.ops.Temporal.seasonality(df, "ts_us", "uid")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map((3L, 5L) -> ((2L, 1L)), (0L, 0L) -> ((2L, 2L))), s"got $got")
  }

  test("activeActors: tumbling windows, exact distinct") {
    val df = Seq((0L, 1L), (5L, 1L), (9L, 2L), (10L, 1L)).toDF("ts_us", "uid")
    val got = graft.ops.Temporal.activeActors(df, "ts_us", "uid", windowMs = 10L)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(0L -> ((3L, 2L)), 10L -> ((1L, 1L))), s"got $got")
  }

  test("transitions: immediate successors only, per-key, row-stochastic permille") {
    // user 1: a(t0) b(t1) a(t2) c(t3); user 2: b(t0) — terminal, no pair
    val df = Seq(
      (1L, 0L, 10L, "a"), (1L, 1L, 11L, "b"), (1L, 2L, 12L, "a"), (1L, 3L, 13L, "c"),
      (2L, 0L, 14L, "b")).toDF("uid", "ts_us", "eid", "et")
    val got = graft.ops.Temporal.transitions(df, Seq("uid"), "ts_us", "eid", "et")
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    // from a: a->b, a->c (500 each); from b: b->a (1000)
    assert(got == Map(("a", "b") -> ((1L, 500L)), ("a", "c") -> ((1L, 500L)),
      ("b", "a") -> ((1L, 1000L))), s"got $got")
    // same-timestamp tie: order pins on (ts, id, type)
    val tied = Seq((1L, 0L, 1L, "x"), (1L, 0L, 2L, "y")).toDF("uid", "ts_us", "eid", "et")
    val g2 = graft.ops.Temporal.transitions(tied, Seq("uid"), "ts_us", "eid", "et")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(g2.toSeq == Seq(("x", "y")), "lower event_id transitions first")
  }

  test("resample: LOCF over gaps, per-bucket tie rule, per-key grid bounds") {
    val e = Seq(
      // key a: obs in buckets 0 and 30 (step 10) — gaps at 10, 20
      ("a", 3L, 100L), ("a", 34L, 400L),
      // bucket 0 has a second, later obs: (7, 150) wins over (3, 100)
      ("a", 7L, 150L),
      // same-time tie in bucket 30: (34, 400) vs (34, 350) — larger value wins
      ("a", 34L, 350L),
      // key b: single observation
      ("b", 25L, 900L)
    ).toDF("k", "t", "v")
    val out = graft.ops.Temporal.resample(e, Seq("k"), "t", "v", gridStep = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(("a", 0L)) == (150L, 2L)) // 2 obs in bucket, later obs wins
    assert(out(("a", 10L)) == (150L, 0L)) // gap: carried, zero observations
    assert(out(("a", 20L)) == (150L, 0L))
    assert(out(("a", 30L)) == (400L, 2L)) // same-ts tie: larger value
    assert(out(("b", 20L)) == (900L, 1L))
    assert(out.size == 5, "grid spans each key's own range only")
  }

  test("resample: negative times floor correctly; tick guard trips on mis-sized steps") {
    val e = Seq(("k", -15L, 1L), ("k", 5L, 2L)).toDF("k", "t", "v")
    val out = graft.ops.Temporal.resample(e, Seq("k"), "t", "v", gridStep = 10L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(-20L -> 1L, -10L -> 1L, 0L -> 2L), s"floor(-15/10) = -2: $out")
    val wide = Seq(("k", 0L, 1L), ("k", 1000000L, 2L)).toDF("k", "t", "v")
    val ex = intercept[Exception] {
      graft.ops.Temporal.resample(wide, Seq("k"), "t", "v", gridStep = 1L,
        maxTicksPerKey = 100L).count()
    }
    assert(ex.getMessage != null)
  }

  test("acf: alternating series scores -1000 at lag 1 and 1000 at lag 2; gaps are zeros") {
    import SparkTestBase.spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    // two events in seconds 0, 2, 4; seconds 1 and 3 exist only through
    // densification -> series [2,0,2,0,2]
    val events = Seq(0L, 0L, 2L, 2L, 4L, 4L).toDF("s")
      .select(timestamp_micros(col("s") * 1000000L).as("ts"))
    val out = graft.ops.Temporal.acf(events, "ts", bucketSeconds = 1L,
        lags = Seq(1, 2)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1) == ((4L, -1000L)))
    assert(out(2) == ((3L, 1000L)))
  }
}
