package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.json.Js
import graft.path.GJsonPath
import graft.compile.EventPred
import graft.spec.{ExcludeEventsWith, MultiCondExclude}

/** Property-based checks — an upgrade the reference's test suite lacks
  * (SURVEY §5): parser round-trips, gjson cast laws, and DNF filter
  * equivalence over randomized events.
  */
class PropertySpec extends AnyFunSuite {

  /** Minimal forAll over ScalaCheck Gens (the scalatest-scalacheck bridge
    * is not on the offline classpath).
    */
  private def forAll[A](g: Gen[A], n: Int = 200)(body: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    var seed = seed0
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 20) {
      g.apply(Gen.Parameters.default, seed).foreach { a => body(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > n / 2, s"generator too restrictive: $produced/$n")
  }

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(body: (A, B, C) => Unit): Unit =
    forAll(for { a <- ga; b <- gb; c <- gc } yield (a, b, c), 200) { t => body(t._1, t._2, t._3) }

  private val scalarGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(s => "\"" + s + "\""),
    Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2).map(_.toString),
    Gen.chooseNum(-1e6, 1e6).map(d => f"$d%.4f"),
    Gen.oneOf("true", "false", "null"))

  private val docGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 6)
    keys <- Gen.listOfN(n, Gen.identifier.suchThat(_.nonEmpty))
    vals <- Gen.listOfN(n, scalarGen)
  } yield keys.distinct.zip(vals).map { case (k, v) => s""""$k": $v""" }
    .mkString("{", ", ", "}")

  test("property: parser raw-substring fidelity — every parsed scalar's raw text round-trips") {
    forAll(docGen) { doc =>
      Js.parse(doc).foreach {
        case o: graft.json.JsObj =>
          o.fields.foreach { case (_, v) =>
            // the raw view must be the exact source slice
            assert(doc.contains(v.raw))
          }
        case _ =>
      }
    }
  }

  test("property: gjson Int()/Float() agree with Scala parsing for numeric strings") {
    forAll(Gen.chooseNum(Long.MinValue / 4, Long.MaxValue / 4)) { n =>
      val doc = s"""{"v": $n, "s": "$n"}"""
      assert(GJsonPath.get(doc, "v").map(GJsonPath.longOf).contains(n))
      assert(GJsonPath.get(doc, "s").map(GJsonPath.longOf).contains(n))
      assert(GJsonPath.get(doc, "v").map(GJsonPath.stringOf).contains(n.toString))
    }
    forAll(Gen.chooseNum(-1e9, 1e9)) { d =>
      val lit = f"$d%.6f"
      val doc = s"""{"v": $lit}"""
      assert(GJsonPath.get(doc, "v").map(GJsonPath.doubleOf).contains(lit.toDouble))
      // number literals stringify verbatim
      assert(GJsonPath.get(doc, "v").map(GJsonPath.stringOf).contains(lit))
    }
  }

  test("property: DNF exclusion semantics match a direct boolean model") {
    val fieldNames = Seq("a", "b", "c")
    val valueGen = Gen.oneOf("x", "y", "z", "")
    val eventGen: Gen[Map[String, String]] =
      Gen.sequence[Seq[(String, String)], (String, String)](
        fieldNames.map(f => valueGen.map(f -> _))).map(_.toMap)
    val filterGen: Gen[ExcludeEventsWith] = for {
      key <- Gen.oneOf(fieldNames :+ "missing")
      mode <- Gen.chooseNum(0, 2)
      vals <- Gen.listOfN(2, Gen.oneOf("x", "y", "z"))
    } yield mode match {
      case 0 => ExcludeEventsWith(key, values = vals)
      case 1 => ExcludeEventsWith(key, valuesNotIn = vals)
      case _ => ExcludeEventsWith(key, valueIsEmpty = Some(true))
    }
    val groupsGen = Gen.listOfN(2, Gen.listOfN(2, filterGen).map(MultiCondExclude(_)))

    forAll(eventGen, Gen.listOfN(2, filterGen), groupsGen) { (event, singles, groups) =>
      val json = event.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
      val root = Js.parse(json)

      // direct model of transformer.go:86-149
      def fieldVal(k: String) = event.getOrElse(k, "")
      def fires(f: ExcludeEventsWith): Boolean = {
        val v = fieldVal(f.key)
        if (f.valueIsEmpty.contains(true) && v.isEmpty) true
        else if (f.values.nonEmpty) f.values.contains(v)
        else if (f.valuesNotIn.nonEmpty) !f.valuesNotIn.contains(v)
        else false
      }
      val expectedExcluded =
        singles.exists(fires) || groups.exists(g => g.filters.forall(fires))

      val keep = EventPred.keepPred(singles, groups)
      assert(keep.eval(root) == !expectedExcluded,
        s"event=$json singles=$singles groups=$groups")
    }
  }

  test("property: portable hash family laws (range, determinism, distinctness)") {
    import graft.functions.text.PortableHash
    import org.apache.spark.unsafe.types.UTF8String
    val strGen = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    forAll(strGen) { s =>
      val u = UTF8String.fromString(s)
      val h = PortableHash.h31(u)
      // 31-bit mask: range is [0, P] INCLUSIVE (P = 2^31-1 is reachable
      // for digests with the low 31 bits set); both engines share the
      // identical `& 2147483647` definition so parity holds either way
      assert(h >= 0 && h <= PortableHash.P, s"h31 out of range for '$s'")
      assert(h == PortableHash.h31(UTF8String.fromString(s)), "h31 must be deterministic")
      (0 until 64).foreach { j =>
        val p = PortableHash.perm(j, h)
        assert(p >= 0 && p < PortableHash.P, s"perm $j out of range")
      }
    }
    // the 64 affine permutations are pairwise distinct maps (distinct a or b)
    val ab = (0 until 64).map(j => (PortableHash.a(j), PortableHash.b(j)))
    assert(ab.distinct.size == 64, "affine constants must be pairwise distinct")
    assert(ab.forall { case (a, b) => a >= 1 && a < PortableHash.P && b >= 0 && b < PortableHash.P })
  }

  test("property: Go time layout round trip at seconds precision") {
    import graft.functions.GoTimeLayout
    val fmtIn = GoTimeLayout.toFormatter("02/Jan/2006:15:04:05 -0700")
    forAll(Gen.chooseNum(0L, 4102444800L)) { epochSec =>
      val odt = java.time.OffsetDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(epochSec), java.time.ZoneOffset.ofHours(2))
      val formatted = odt.format(fmtIn)
      val parsed = GoTimeLayout.parseToOffsetDateTime(fmtIn, formatted)
      assert(parsed.toInstant == odt.toInstant, s"$formatted")
    }
  }

  test("the 15-UA corpus parses without error (ua_test.go:8-24 contract)") {
    val uas = Seq(
      "Mozilla%2F5.0%20(Macintosh%3B%20Intel%20Mac%20OS%20X%2010_15_7)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Chrome%2F93.0.4577.63%20Safari%2F537.36",
      "Mozilla%2F5.0%20(Windows%20NT%2010.0%3B%20Win64%3B%20x64)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Chrome%2F93.0.4577.82%20Safari%2F537.36",
      "Mozilla%2F5.0%20(Linux%3B%20Android%208.0.0%3B%20SM-G930F)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Chrome%2F94.0.4606.50%20Mobile%20Safari%2F537.36",
      "Mozilla%2F5.0%20(iPhone%3B%20CPU%20iPhone%20OS%2014_8%20like%20Mac%20OS%20X)%20AppleWebKit%2F605.1.15%20(KHTML%2C%20like%20Gecko)%20Mobile%2F15E148",
      "Mozilla%2F5.0%20(iPhone%3B%20CPU%20iPhone%20OS%2014_7_1%20like%20Mac%20OS%20X)%20AppleWebKit%2F605.1.15%20(KHTML%2C%20like%20Gecko)%20Mobile%2F15E148",
      "Mozilla%2F5.0%20(Windows%20NT%2010.0)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Chrome%2F88.0.4324.150%20Safari%2F537.36%20Edg%2F88.0.705.68",
      "Mozilla%2F5.0%20(Windows%20NT%2010.0%3B%20Win64%3B%20x64)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Chrome%2F93.0.4577.82%20Safari%2F537.36%20Edg%2F93.0.961.52",
      "Mozilla%2F5.0%20(Linux%3B%20Android%2010%3B%20LM-K200%20Build%2FQKQ1.200311.002%3B%20wv)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Version%2F4.0%20Chrome%2F93.0.4577.82%20Mobile%20Safari%2F537.36",
      "Mozilla%2F5.0%20(Linux%3B%20Android%2010%3B%20SNE-LX3)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Chrome%2F92.0.4515.115%20Mobile%20Safari%2F537.36",
      "Mozilla%2F5.0%20(Linux%3B%20Android%2011%3B%20SM-A715F)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Chrome%2F93.0.4577.82%20Mobile%20Safari%2F537.36",
      "Mozilla%2F5.0%20(Windows%20NT%206.1%3B%20Win64%3B%20x64)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Chrome%2F94.0.4606.61%20Safari%2F537.36",
      "Mozilla%2F5.0%20(Linux%3B%20Android%2010%3B%20HRY-LX1%20Build%2FHONORHRY-L21%3B%20wv)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Version%2F4.0%20Chrome%2F93.0.4577.82%20Mobile%20Safari%2F537.36",
      "Mozilla%2F5.0%20(Macintosh%3B%20Intel%20Mac%20OS%20X%2010_15_6)%20AppleWebKit%2F605.1.15%20(KHTML%2C%20like%20Gecko)%20Version%2F14.1.2%20Safari%2F605.1.15",
      "Mozilla%2F5.0%20(iPhone%3B%20CPU%20iPhone%20OS%2014_6%20like%20Mac%20OS%20X)%20AppleWebKit%2F605.1.15%20(KHTML%2C%20like%20Gecko)%20Version%2F14.1.1%20Mobile%2F15E148%20Safari%2F604.1",
      "Mozilla%2F5.0%20(Windows%20NT%206.2%3B%20WOW64)%20AppleWebKit%2F537.36%20(KHTML%2C%20like%20Gecko)%20Chrome%2F88.0.4324.182c%20(PSFooBrowserEmbedded)%20Safari%2F537.36")
    uas.foreach { ua =>
      val parsed = graft.functions.UserAgentParser.parse(ua)
      assert(parsed.isDefined, ua)
      val p = parsed.get
      assert(p.engine == "AppleWebKit")
      assert(p.browserName.nonEmpty)
      assert(p.toJson.startsWith("{\"platform\":"))
    }
  }

  test("userAgent product scan equals the Name/([\\w.]+) regex; toJson serializes as before") {
    import graft.functions.UserAgentParser
    val names = Seq("AppleWebKit", "Gecko", "Trident", "Edg", "Edge", "OPR", "Chrome", "Firefox", "Version")
    // the regex the scan replaced, and the per-character serializer the
    // single-builder toJson replaced
    val regex = names.map(n => n -> java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(n) + """/([\w.]+)""")).toMap
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case '<' => "\\u003c"
      case '>' => "\\u003e"
      case '&' => "\\u0026"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def oldJson(u: UserAgentParser.Ua) =
      s"""{"platform":${q(u.platform)},"operatingSystem":{"name":${q(u.osName)},"fullName":${q(u.osFullName)},"version":${q(u.osVersion)}},""" +
        s""""localization":${q(u.localization)},"browser":{"name":${q(u.browserName)},"version":${q(u.browserVersion)},""" +
        s""""engine":${q(u.engine)},"engineVersion":${q(u.engineVersion)}},"bot":${u.bot},"mobile":${u.mobile}}"""
    // UA-shaped strings: product tokens (with and without a version, some
    // glued to a following name), comments, separators and characters the
    // JSON serializer must escape
    val piece: Gen[String] = Gen.frequency(
      4 -> Gen.zip(Gen.oneOf(names), Gen.oneOf("/", "/ ", "//", ""),
        Gen.stringOf(Gen.oneOf("0123456789._abzAZ-+ ".toSeq))).map { case (n, s, v) => n + s + v },
      2 -> Gen.oneOf(" (", ")", "; ", " ", "Mozilla/5.0", "Windows NT 10.0", "Android 10",
        "CPU iPhone OS 14_8 like Mac OS X", "Intel Mac OS X 10_15_7", "en-US", "wv", "Safari/537.36"),
      1 -> Gen.stringOf(Gen.oneOf("\"\\<>&\u0001\t\u00e9é/;()".toSeq)))
    val uaGen = Gen.listOf(piece).map(_.mkString)
    forAll(uaGen, n = 500) { ua =>
      names.foreach { n =>
        val m = regex(n).matcher(ua)
        assert(UserAgentParser.product(ua, n) == (if (m.find()) Some((n, m.group(1))) else None), s"$n in [$ua]")
      }
      val parsed = UserAgentParser.parseDecoded(ua)
      assert(parsed.toJson == oldJson(parsed), ua)
    }
  }

  test("keepTopFractionApprox: GK rank-error accuracy contract vs the exact tier") {
    // The approx tier's stated contract (the one a 100 TB user relies on):
    // with percentile_approx at `accuracy`, the per-group kept count is
    // within eps = 1/accuracy of the exact tier's N·p/1000 (±1 for
    // rounding), and the kept set is a top-prefix by score — so
    // exact(p - 1000·eps) ⊆ approx(p) ⊆ exact(p + 1000·eps) on distinct
    // scores. accuracy = 50 forces real sketch compression at N ≥ 100
    // (eps = 2% rank error); distinct scores sidestep the documented
    // ties-all-pass divergence.
    val spark = SparkTestBase.spark
    import spark.implicits._
    import graft.ops.Curation
    val accuracy = 50
    val eps = 1.0 / accuracy
    val gen = for {
      n <- Gen.chooseNum(100, 320)
      p <- Gen.chooseNum(50, 950)
      seed <- Gen.chooseNum(0L, Long.MaxValue / 2)
    } yield (n, p, seed)
    forAll(gen, 8) { case (n, p, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = rnd.shuffle((1 to n).toList).zipWithIndex.map { case (s, i) =>
        (i.toLong, s"g${i % 2}", s.toDouble)
      }
      val df = rows.toDF("id", "g", "score")
      val approxIds = Curation.keepTopFractionApprox(df, "score", Seq("g"), p, accuracy)
        .select("id").as[Long].collect().toSet
      val byGroup = rows.groupBy(_._2)
      byGroup.foreach { case (g, members) =>
        val ng = members.size
        val kept = members.count(m => approxIds.contains(m._1))
        val target = ng * p / 1000.0
        val lo = math.floor(target - eps * ng) - 1
        val hi = math.ceil(target + eps * ng) + 1
        assert(kept >= lo && kept <= hi,
          s"group $g: kept $kept outside [$lo, $hi] (n=$ng p=$p seed=$seed)")
        // top-prefix: every kept score beats every dropped score
        val keptScores = members.filter(m => approxIds.contains(m._1)).map(_._3)
        val dropScores = members.filterNot(m => approxIds.contains(m._1)).map(_._3)
        if (keptScores.nonEmpty && dropScores.nonEmpty)
          assert(keptScores.min > dropScores.max,
            s"group $g: kept set is not a score prefix (seed=$seed)")
      }
      // containment law against the exact tier at ±(eps + 2/N_min) rank
      // error: eps from the sketch contract, 2/N_min for the ±1-row
      // rounding on each side (both tiers floor at different points)
      val ngMin = byGroup.values.map(_.size).min
      val slackPm = (1000 * eps).toInt + (2 * 1000 + ngMin - 1) / ngMin
      val pLo = math.max(0, p - slackPm)
      val pHi = math.min(1000, p + slackPm)
      val exactLo = Curation.keepTopFraction(df, "score", Seq("g"), pLo, "id")
        .select("id").as[Long].collect().toSet
      val exactHi = Curation.keepTopFraction(df, "score", Seq("g"), pHi, "id")
        .select("id").as[Long].collect().toSet
      assert(exactLo.subsetOf(approxIds),
        s"exact($pLo) must be contained in approx($p) (seed=$seed)")
      assert(approxIds.subsetOf(exactHi),
        s"approx($p) must be contained in exact($pHi) (seed=$seed)")
    }
  }

  test("property: prefix-filtered joins equal a driver-side brute force on random corpora") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import graft.ops.Dedup
    // driver-side mirror of WordNgramsExpr(distinct = true)
    def grams(s: String, n: Int): Set[String] = {
      val t = s.trim.toLowerCase.split("\\s+", -1).toSeq
      (if (t.length < n) Seq(t.mkString(" "))
       else t.sliding(n).map(_.mkString(" ")).toSeq).toSet
    }
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "kappa", "mu")
    val doc = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val gen = for {
      docs <- Gen.listOfN(22, doc)
      tp <- Gen.chooseNum(300, 1000)
    } yield (docs, tp)
    forAll(gen, 5) { case (docs, tp) =>
      val df = docs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
      val g = docs.zipWithIndex.map { case (s, i) => i.toLong -> grams(s, 2) }.toMap
      val ids = g.keys.toSeq.sorted
      val wantJ = (for {
        i <- ids; j <- ids if i < j
        inter = (g(i) & g(j)).size; uni = (g(i) | g(j)).size
        if uni > 0 && inter * 1000L >= tp.toLong * uni
      } yield (i, j)).toSet
      val gotJ = Dedup.jaccardJoin(df, "text", "id", tp, shingleLen = 2)
        .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotJ == wantJ, s"jaccard tp=$tp docs=$docs")
      val wantC = (for {
        i <- ids; j <- ids if i != j
        inter = (g(i) & g(j)).size
        if g(i).nonEmpty && inter * 1000L >= tp.toLong * g(i).size
      } yield (i, j)).toSet
      val gotC = Dedup.containmentJoin(df, "text", "id", tp, shingleLen = 2)
        .select("idSub", "idSup").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotC == wantC, s"containment tp=$tp docs=$docs")
    }
  }

  test("property: BLEU clip three ways — kernel == distributed == driver model on random pairs") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import graft.ops.EvalMetrics
    // driver-side mirror of the modified-precision clip over the corpus
    // tokenization (space separators only in the generator, so plain
    // trim matches Spark's ASCII-space trim)
    def toks(s: String): Array[String] =
      s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    def clip(c: Array[String], r: Array[String], n: Int): (Long, Long) = {
      def gs(t: Array[String]) =
        if (t.length < n) Seq.empty[String] else t.sliding(n).map(_.mkString(" ")).toSeq
      val cg = gs(c); val rc = gs(r).groupBy(identity).map { case (k, v) => k -> v.size }
      val m = cg.groupBy(identity).map { case (g, occ) =>
        math.min(occ.size, rc.getOrElse(g, 0)).toLong }.sum
      (m, cg.size.toLong)
    }
    val word = Gen.oneOf("a", "b", "c", "dd", "ee", "ff") // tiny alphabet forces clips
    val text = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.listOfN(60, Gen.zip(text, text))
    forAll(corpus, 4) { pairs =>
      val df = pairs.zipWithIndex
        .map { case ((c, r), i) => (i.toLong, c, r) }.toDF("pair_id", "cand", "ref")
      def collectComp(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(row => row.getLong(0) -> row.toSeq.drop(1)).toMap
      val dist = collectComp(EvalMetrics.bleuComponents(df, "pair_id", "cand", "ref"))
      val local = collectComp(
        EvalMetrics.bleuComponentsRowLocal(df, "pair_id", "cand", "ref", maxTokens = 16))
      assert(local == dist, "kernel != distributed")
      pairs.zipWithIndex.foreach { case ((c, r), i) =>
        val ct = toks(c); val rt = toks(r)
        val row = dist(i.toLong)
        assert(row(0) == ct.length.toLong && row(1) == rt.length.toLong,
          s"lengths for pair $i ($c | $r)")
        (1 to 4).foreach { n =>
          val (m, t) = clip(ct, rt, n)
          assert(row(2 * n) == m && row(2 * n + 1) == t,
            s"n=$n pair $i ($c | $r): got (${row(2 * n)}, ${row(2 * n + 1)}) want ($m, $t)")
        }
      }
    }
  }

  test("property: single-reference BLEU == multi-reference BLEU over array(ref) == word-mode gramPrfCounts") {
    val spark = SparkTestBase.spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{array, col}
    import org.apache.spark.sql.types._
    import graft.functions.text
    // token arrays straight into the kernels: empty arrays, null arrays,
    // null elements and a tiny alphabet so grams repeat and clip
    val tok = Gen.frequency(6 -> Gen.oneOf("a", "b", "c", "dd"), 1 -> Gen.const(null: String))
    val arr = Gen.frequency(
      1 -> Gen.const(null: Seq[String]),
      2 -> Gen.const(Seq.empty[String]),
      8 -> Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, tok)))
    val schema = StructType(Seq(StructField("pair_id", LongType),
      StructField("c", ArrayType(StringType)), StructField("r", ArrayType(StringType))))
    forAll(Gen.listOfN(60, Gen.zip(arr, arr)), 4) { pairs =>
      val rows = pairs.zipWithIndex.map { case ((c, r), i) => Row(i.toLong, c, r) }
      val out = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .select(col("pair_id"),
          text.bleuComponentsStruct(col("c"), col("r")).as("single"),
          text.bleuMultiRefStruct(col("c"), array(col("r"))).as("multi"),
          text.gramPrfCounts(col("c"), col("r"), 4, chars = false).as("prf"))
        .collect()
      assert(out.length == pairs.length)
      out.foreach { row =>
        val i = row.getLong(0)
        val single = row.getStruct(1)
        assert(single == row.getStruct(2), s"pair $i ${pairs(i.toInt)}: single-ref != multi-ref")
        val prf = row.getSeq[Row](3)
        (1 to 4).foreach { n =>
          assert(single.getLong(2 * n) == prf(n - 1).getLong(1) &&
            single.getLong(2 * n + 1) == prf(n - 1).getLong(2),
            s"pair $i ${pairs(i.toInt)} n=$n: BLEU $single vs gramPrfCounts ${prf(n - 1)}")
        }
      }
    }
  }

  test("filterFunnel law: single-scan attribution equals sequential filtering") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val gen = for {
      n <- Gen.chooseNum(20, 120)
      t1 <- Gen.chooseNum(0, 100); t2 <- Gen.chooseNum(0, 100); t3 <- Gen.chooseNum(0, 100)
      seed <- Gen.chooseNum(0L, Long.MaxValue / 2)
    } yield (n, t1, t2, t3, seed)
    forAll(gen, 6) { case (n, t1, t2, t3, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until n).map(i => (i.toLong, rnd.nextInt(100).toLong,
        rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      val df = rows.toDF("id", "a", "b", "c")
      val rules = Seq("ra" -> (col("a") >= t1), "rb" -> (col("b") >= t2),
        "rc" -> (col("c") >= t3))
      val out = graft.ops.Curation.filterFunnel(df, rules)
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // sequential replay on the driver
      var live = rows
      val want = Seq(("ra", (r: (Long, Long, Long, Long)) => r._2 >= t1),
        ("rb", (r: (Long, Long, Long, Long)) => r._3 >= t2),
        ("rc", (r: (Long, Long, Long, Long)) => r._4 >= t3)).map { case (nm, p) =>
        val in = live.size; live = live.filter(p)
        (nm, in.toLong, (in - live.size).toLong, live.size.toLong)
      }
      assert(out.toSeq == want, s"seed=$seed thresholds=($t1,$t2,$t3)")
    }
  }

  test("transitions law: pair counts reconcile to events minus keys") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(10, 80)
      k <- Gen.chooseNum(1, 6)
      seed <- Gen.chooseNum(0L, Long.MaxValue / 2)
    } yield (n, k, seed)
    forAll(gen, 6) { case (n, k, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until n).map(i => (rnd.nextInt(k).toLong, rnd.nextInt(20).toLong,
        i.toLong, s"e${rnd.nextInt(4)}"))
      val df = rows.toDF("uid", "ts_us", "eid", "et")
      val out = graft.ops.Temporal.transitions(df, Seq("uid"), "ts_us", "eid", "et")
        .collect()
      val totalPairs = out.map(_.getLong(2)).sum
      val distinctKeys = rows.map(_._1).distinct.size
      assert(totalPairs == n - distinctKeys,
        s"every non-terminal event emits exactly one transition (seed=$seed)")
      // row-stochastic: per from_type, permilles sum to <= 1000 (integer floor)
      out.groupBy(_.getString(0)).foreach { case (ft, rs) =>
        val s = rs.map(_.getLong(3)).sum
        assert(s <= 1000 && s > 1000 - rs.size,
          s"from=$ft permille sum $s out of floor range (seed=$seed)")
      }
    }
  }

  test("alignScores law: aligned values are reference members and order-preserving") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(5, 60)
      m <- Gen.chooseNum(1, 40)
      seed <- Gen.chooseNum(0L, Long.MaxValue / 2)
    } yield (n, m, seed)
    forAll(gen, 6) { case (n, m, seed) =>
      val rnd = new scala.util.Random(seed)
      val df = (0 until n).map(i => (i.toLong, s"g${i % 2}", rnd.nextInt(1000).toLong))
        .toDF("id", "grp", "score")
      val refVals = (0 until m).map(_ => rnd.nextInt(1000).toLong)
      val ref = refVals.toDF("rscore")
      val out = graft.ops.Curation.alignScores(df, "score", "id", Seq("grp"), ref, "rscore")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      assert(out.length == n, "alignment is total")
      val refSet = refVals.toSet
      assert(out.forall(r => refSet.contains(r._4)), "selection, never interpolation")
      out.groupBy(_._1).foreach { case (g, rs) =>
        val byScore = rs.sortBy(r => (r._3, r._2))
        assert(byScore.map(_._4).toSeq == byScore.map(_._4).sorted.toSeq,
          s"group $g: alignment must preserve score order (seed=$seed)")
      }
    }
  }

  test("dedupeLinesInDoc law: idempotent, and output lines are a subsequence of input") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val lineGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "")
    val gen = for {
      n <- Gen.chooseNum(0, 10)
      ls <- Gen.listOfN(n, lineGen)
    } yield ls.mkString("\n")
    forAll(gen, 10) { text =>
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val once = graft.ops.Curation.dedupeLinesInDoc(df, "text", "doc_id")
        .collect().head
      val dedup1 = once.getString(3)
      val twice = graft.ops.Curation.dedupeLinesInDoc(
        Seq((1L, dedup1)).toDF("doc_id", "text"), "text", "doc_id")
        .collect().head.getString(3)
      assert(twice == dedup1, s"idempotence on ${text.replace("\n", "|")}")
      // subsequence + first-occurrence preservation
      val in = text.split("\n", -1).toSeq
      val outLines = dedup1.split("\n", -1).toSeq
      val nonEmptyDistinct = in.filter(_.nonEmpty).distinct
      assert(outLines.filter(_.nonEmpty) == nonEmptyDistinct,
        s"non-empty lines keep first-occurrence order: in=$in out=$outLines")
      assert(outLines.count(_.isEmpty) == in.count(_.isEmpty),
        "every empty line survives")
    }
  }

  test("packDialog law: fold equals a driver-side greedy model on random dialogs") {
    import org.apache.spark.sql.functions.{col, struct, transform}
    import SparkTestBase.spark.implicits._
    val gDialogs = Gen.listOfN(30, for {
      n <- Gen.choose(1, 8)
      toks <- Gen.listOfN(n, Gen.choose(0, 7))
    } yield toks)
    forAll(Gen.zip(gDialogs, Gen.choose(3L, 9L)), n = 5) { case (dialogs, budget) =>
      val rows = dialogs.zipWithIndex.map { case (toks, i) =>
        (i.toLong, toks.map(t => ("user", Seq.fill(t)("w").mkString(" "))))
      }
      val df = rows.toDF("id", "raw")
        .select(col("id"), transform(col("raw"), x =>
          struct(x.getField("_1").as("role"), x.getField("_2").as("content")))
          .as("msgs"))
      val got = graft.ops.Curation.packDialog(df, "id", "msgs", budget)
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      rows.foreach { case (id, msgs) =>
        var cum = 0L; var chunk = 0L
        msgs.map(m => if (m._2.trim.isEmpty) 0L
          else m._2.trim.split("\\s+").length.toLong)
          .zipWithIndex.foreach { case (t, pos) =>
            if (cum > 0 && cum + t > budget) { chunk += 1; cum = t }
            else cum += t
            assert(got((id, pos)) == ((chunk, t)),
              s"dialog $id pos $pos budget $budget: $msgs")
          }
      }
    }
  }

  test("marginPairs law: equals a driver-side model on random integer vectors") {
    import org.apache.spark.sql.functions.col
    import SparkTestBase.spark.implicits._
    val gCase = for {
      n <- Gen.choose(3, 12)
      vecs <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(0, 9)))
      margin <- Gen.oneOf(0L, 5L, 20L)
    } yield (vecs, margin)
    forAll(gCase, n = 6) { case (vecs, margin) =>
      val corpus = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toDouble)) }
      val queries = corpus.take(3)
      val got = graft.ops.Similarity.marginPairs(
        queries.toDF("id", "vec"), corpus.toDF("id", "vec"), margin)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val want = queries.flatMap { case (qid, qv) =>
        val scored = corpus.filter(_._1 != qid)
          .map { case (cid, cv) =>
            (cid, qv.zip(cv).map { case (a, b) => a * b }.sum.toLong) }
          .sortBy { case (cid, d) => (-d, cid) }
        scored match {
          case (n1, d1) :: (_, d2) :: _ if d1 - d2 >= margin =>
            Some((qid, n1, d1, d2, d1 - d2))
          case _ => None
        }
      }.toSet
      assert(got == want, s"vecs=$vecs margin=$margin")
    }
  }

  test("dialogAudit law: HOF audit equals a driver-side model on random dialogs") {
    import org.apache.spark.sql.functions.{col, struct, transform}
    import SparkTestBase.spark.implicits._
    val roles = Seq("user", "assistant", "system")
    val contents = Seq("", "ok then", "x <|endoftext|> y", "   ", "plain words")
    val gDialogs = Gen.listOfN(40, for {
      n <- Gen.choose(1, 6)
      msgs <- Gen.listOfN(n, Gen.zip(Gen.oneOf(roles), Gen.oneOf(contents)))
    } yield msgs)
    forAll(gDialogs, n = 5) { dialogs =>
      val withIds = dialogs.zipWithIndex.map { case (m, i) => (i.toLong, m) }
      val df = withIds.toDF("id", "raw")
        .select(col("id"), transform(col("raw"), x =>
          struct(x.getField("_1").as("role"), x.getField("_2").as("content")))
          .as("msgs"))
      val got = graft.ops.Curation.dialogAudit(df, "id", "msgs").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getString(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      withIds.foreach { case (id, msgs) =>
        val repeats = msgs.sliding(2).count {
          case Seq(a, b) => a._1 == b._1
          case _ => false
        }
        val special = msgs.count(_._2.matches(".*<\\|[A-Za-z_]+\\|>.*"))
        val want = (msgs.length.toLong, msgs.head._1, msgs.last._1,
          repeats.toLong, msgs.count(_._2.trim.isEmpty).toLong, special.toLong)
        assert(got(id) == want, s"dialog $id: $msgs")
      }
    }
  }

  test("corrPermille law: BigInteger-isqrt tail equals the definitional scan model on random integer vectors") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{Decimal, DecimalType}
    import graft.functions.text.CorrPermilleExpr
    def evalExpr(num: BigInt, dx: BigInt, dy: BigInt): Option[Long] = {
      def lit(v: BigInt) = Literal.create(
        Decimal(new java.math.BigDecimal(v.bigInteger), 38, 0), DecimalType(38, 0))
      Option(CorrPermilleExpr(lit(num), lit(dx), lit(dy)).eval(null))
        .map(_.asInstanceOf[Long])
    }
    // Definitional model: k = round-half-away(1000|num|/sqrt(dx*dy)) is the
    // LARGEST k in 0..1000 with (2k-1)^2 * dx*dy <= (2000*num)^2 (k=0 holds
    // vacuously: r >= -0.5 always). Scanned directly — no sqrt anywhere.
    def model(num: BigInt, dx: BigInt, dy: BigInt): Option[Long] = {
      if (dx.signum <= 0 || dy.signum <= 0) None
      else {
        val a = (num.abs * 2000).pow(2)
        val b = dx * dy
        val k = (0L to 1000L).filter(j => j == 0 || (BigInt(2 * j - 1).pow(2) * b) <= a).max
        Some(if (num.signum < 0) -k else k)
      }
    }
    val gVec = for {
      n <- Gen.choose(2, 40)
      xs <- Gen.listOfN(n, Gen.chooseNum(-1000000000L, 1000000000L))
      ys <- Gen.listOfN(n, Gen.chooseNum(-1000000000L, 1000000000L))
      // mix in strongly-correlated shapes so the k~1000 edge gets exercised
      mode <- Gen.choose(0, 3)
    } yield {
      val y2 = mode match {
        case 0 => ys
        case 1 => xs.map(x => 3 * x + 7)     // perfect: k = 1000
        case 2 => xs.map(x => -2 * x + 5)    // perfect inverse: k = -1000
        case _ => xs.zip(ys).map { case (x, y) => x + y / 1000 } // near-perfect
      }
      (xs, y2)
    }
    forAll(gVec, n = 120) { case (xs, ys) =>
      val n = BigInt(xs.length)
      val sx = xs.map(BigInt(_)).sum; val sy = ys.map(BigInt(_)).sum
      val sx2 = xs.map(x => BigInt(x) * x).sum; val sy2 = ys.map(y => BigInt(y) * y).sum
      val sxy = xs.zip(ys).map { case (x, y) => BigInt(x) * y }.sum
      val num = n * sxy - sx * sy
      val dx = n * sx2 - sx * sx
      val dy = n * sy2 - sy * sy
      assert(evalExpr(num, dx, dy) == model(num, dx, dy),
        s"n=$n num=$num dx=$dx dy=$dy")
    }
    // exact .5 tie rounds away from zero: sqrt(dx*dy) = 2000, num = +-1
    // gives r = +-0.5 -> +-1 (floor(x+0.5) == half-away on the boundary)
    assert(evalExpr(BigInt(1), BigInt(2000), BigInt(2000)) == Some(1L))
    assert(evalExpr(BigInt(-1), BigInt(2000), BigInt(2000)) == Some(-1L))
    assert(evalExpr(BigInt(0), BigInt(2000), BigInt(2000)) == Some(0L))
    assert(evalExpr(BigInt(5), BigInt(0), BigInt(7)).isEmpty, "dx=0 is NULL")
    // magnitudes past decimal(38,0)^2: internals are BigInteger, no overflow
    val big = BigInt(10).pow(37)
    assert(evalExpr(big, big, big) == Some(1000L), "r = 1000 exactly at any scale")
  }

  test("krippendorffAlpha law: Spark equals a BigInt model on random ragged panels") {
    import SparkTestBase.spark.implicits._
    val L = BigInt(27720)
    def model(ratings: Seq[(Int, String)]): (Long, Long, Long, Option[Long]) = {
      val byUnit = ratings.groupBy(_._1).filter(_._2.size >= 2)
      val n = BigInt(byUnit.values.map(_.size).sum)
      val s = byUnit.values.map { rs =>
        val m = BigInt(rs.size)
        val ss = rs.groupBy(_._2).values.map(g => BigInt(g.size) * g.size).sum
        (m * m - ss) * (L / (m - 1))
      }.sum
      val nc = byUnit.values.flatten.groupBy(_._2).values.map(g => BigInt(g.size))
      val p = n * n - nc.map(c => c * c).sum
      val alpha =
        if (p == 0) None
        else Some(((BigInt(1000) * (L * p - (n - 1) * s)) / (L * p)).toLong)
      (byUnit.size.toLong, n.toLong, nc.size.toLong, alpha)
    }
    val gen = for {
      nUnits <- Gen.choose(1, 8)
      ratings <- Gen.listOfN(nUnits * 4, Gen.zip(
        Gen.choose(1, nUnits), Gen.oneOf("a", "b", "c")))
      drop <- Gen.choose(0, nUnits * 2) // ragged: drop a random prefix
    } yield ratings.drop(drop)
    forAll(gen, n = 8) { ratings =>
      if (ratings.nonEmpty) {
        val got = graft.ops.Profile.krippendorffAlpha(
          ratings.toDF("item", "label"), "item", "label").collect().head
        val want = model(ratings)
        val gotT = (got.getLong(0), got.getLong(1), got.getLong(2),
          if (got.isNullAt(3)) None else Some(got.getLong(3)))
        assert(gotT == want, s"ratings=$ratings")
      }
    }
  }

  test("fleissKappa law: Spark equals a BigInt model on random fixed panels") {
    import SparkTestBase.spark.implicits._
    def model(rows: Seq[(Int, String)]): (Long, Long, Long, Option[Long]) = {
      val byItem = rows.groupBy(_._1)
      val nItems = BigInt(byItem.size)
      val nRaters = BigInt(byItem.values.head.size)
      val nTot = nItems * nRaters
      val sumSs = byItem.values.map(rs =>
        rs.groupBy(_._2).values.map(g => BigInt(g.size) * g.size).sum).sum
      val sumNc2 = rows.groupBy(_._2).values.map(g => BigInt(g.size) * g.size).sum
      val (pb, db, de) = (sumSs - nTot, nTot * (nRaters - 1), nTot * nTot)
      val denom = db * (de - sumNc2)
      val kappa =
        if (nRaters < 2 || denom == 0) None
        else Some(((BigInt(1000) * (pb * de - sumNc2 * db)) / denom).toLong)
      (nItems.toLong, nRaters.toLong, rows.map(_._2).distinct.size.toLong, kappa)
    }
    val gen = for {
      nItems <- Gen.choose(1, 6)
      nRaters <- Gen.choose(2, 5)
      labels <- Gen.listOfN(nItems * nRaters, Gen.oneOf("a", "b", "c"))
    } yield labels.zipWithIndex.map { case (l, i) => (i % nItems, l) }
    forAll(gen, n = 8) { rows =>
      val got = graft.ops.Profile.fleissKappa(
        rows.toDF("item", "label"), "item", "label").collect().head
      val gotT = (got.getLong(0), got.getLong(1), got.getLong(2),
        if (got.isNullAt(3)) None else Some(got.getLong(3)))
      assert(gotT == model(rows), s"rows=$rows")
    }
  }

  test("waterfillPlan law: closed form equals the iterative waterfill fixpoint") {
    import SparkTestBase.spark.implicits._
    def model(strata: Seq[(String, Long, Long)], budget: Long): Map[String, (Long, Boolean)] = {
      val act = strata.filter(_._3 > 0)
      var capped = Set.empty[String]
      var changed = true
      while (changed) {
        changed = false
        val n = BigInt(budget) - act.filter(s => capped(s._1)).map(s => BigInt(s._2)).sum
        val d = act.filterNot(s => capped(s._1)).map(s => BigInt(s._3)).sum
        for (s <- act if !capped(s._1) && d > 0)
          if (BigInt(s._2) * d <= BigInt(s._3) * n) { capped += s._1; changed = true }
      }
      val n = BigInt(budget) - act.filter(s => capped(s._1)).map(s => BigInt(s._2)).sum
      val d = act.filterNot(s => capped(s._1)).map(s => BigInt(s._3)).sum
      strata.map { case (k, avail, w) =>
        k -> (if (w <= 0) (0L, false)
              else if (capped(k)) (avail, true)
              else ((BigInt(w) * n / d).toLong, false))
      }.toMap
    }
    val gen = for {
      nStrata <- Gen.choose(1, 7)
      rows <- Gen.listOfN(nStrata, Gen.zip(Gen.choose(0L, 2000L), Gen.choose(0L, 9L)))
      budget <- Gen.choose(0L, 6000L)
    } yield (rows.zipWithIndex.map { case ((a, w), i) => (s"s$i", a, w) }, budget)
    forAll(gen, n = 10) { case (strata, budget) =>
      val got = graft.ops.Curation.waterfillPlan(
        strata.toDF("stratum", "tokens", "w"), "stratum", "tokens", "w", budget)
        .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
      val want = model(strata, budget)
      assert(got == want, s"strata=$strata budget=$budget")
      // never over budget, never over availability
      val byName = strata.map(s => s._1 -> s._2).toMap
      assert(got.values.map(_._1).sum <= budget || budget >= strata.map(_._2).sum)
      got.foreach { case (k, (alloc, _)) => assert(alloc <= byName(k)) }
    }
  }

  test("bootstrapMeans law: hash-derived Poisson weights equal an MD5 model") {
    import SparkTestBase.spark.implicits._
    val cuts = Seq(790015084L, 1580030168L, 1975037710L, 2106706891L,
      2139624186L, 2146207645L)
    def h31(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) & 2147483647L
    }
    def weight(id: Long, rep: Long): Long = {
      val u = h31(s"graft-boot|$id|$rep")
      cuts.indexWhere(u < _) match { case -1 => 6L; case k => k.toLong }
    }
    val gen = for {
      n <- Gen.choose(1, 12)
      vals <- Gen.listOfN(n, Gen.choose(-500L, 500L))
      b <- Gen.choose(2, 8)
    } yield (vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }, b)
    forAll(gen, n = 8) { case (rows, b) =>
      val got = graft.ops.Profile.bootstrapMeans(
        rows.toDF("id", "v"), "v", "id", replicates = b)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      val want = (1L to b.toLong).map { rep =>
        val ws = rows.map { case (id, v) => (weight(id, rep), v) }
        val nEff = ws.map(_._1).sum
        // Spark div truncates toward zero; Scala Long / does too
        rep -> ((nEff,
          if (nEff > 0) Some(ws.map { case (w, v) => w * v }.sum * 1000L / nEff)
          else None))
      }.toMap
      assert(got == want, s"rows=$rows b=$b")
    }
  }

  test("bootstrapMeans overflow law: decimal carrier stays exact past the long envelope") {
    // 12k rows at the +1e12 value cap: Σw·v ≈ 1.2e16, so the ·1000
    // numerator (~1.2e19) exceeds Long.MaxValue — only the
    // DECIMAL(38,0) accumulator matches the BigInt (= DuckDB HUGEINT)
    // model; a long sum wraps negative here
    import SparkTestBase.spark.implicits._
    val cuts = Seq(790015084L, 1580030168L, 1975037710L, 2106706891L,
      2139624186L, 2146207645L)
    def h31(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) & 2147483647L
    }
    def weight(id: Long, rep: Long): Long = {
      val u = h31(s"graft-boot|$id|$rep")
      cuts.indexWhere(u < _) match { case -1 => 6L; case k => k.toLong }
    }
    val v = 1000000000000L
    val ids = (1L to 12000L).toSeq
    val got = graft.ops.Profile.bootstrapMeans(
      ids.map(i => (i, v)).toDF("id", "v"), "v", "id", replicates = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    (1L to 2L).foreach { rep =>
      val nEff = ids.map(weight(_, rep)).sum
      val want = (ids.map(i => BigInt(weight(i, rep)) * v).sum * 1000 / nEff).toLong
      assert(got(rep) == ((nEff, want)), s"rep=$rep")
      assert(want > 0L, "model sanity: the exact mean is positive")
    }
  }

  test("trimmedStats law: equals a sorted-slice model; outliers never move the kept band") {
    import SparkTestBase.spark.implicits._
    val gen = for {
      nGroups <- Gen.choose(1, 4)
      rows <- Gen.listOfN(nGroups * 6, Gen.zip(
        Gen.choose(1, nGroups), Gen.choose(-1000L, 1000L)))
      trim <- Gen.choose(0L, 499L)
    } yield (rows.map { case (g, v) => (s"g$g", v) }, trim)
    forAll(gen, n = 10) { case (rows, trim) =>
      val got = graft.ops.Profile.trimmedStats(
        rows.toDF("g", "v"), "v", Seq("g"), trim)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val vs = rs.map(_._2).sorted
        val n = vs.size
        val k = n * trim / 1000
        val kept = vs.slice(k.toInt, (n - k).toInt)
        g -> ((n.toLong, 2 * k, kept.size.toLong,
          // Spark div truncates toward zero, matching BigInt /
          (BigInt(kept.sum) / kept.size).toLong, kept.min, kept.max))
      }
      assert(got == want, s"rows=$rows trim=$trim")
    }
  }

  test("rankAgreement law: equals a per-depth brute intersection model") {
    import SparkTestBase.spark.implicits._
    val gen = for {
      nq <- Gen.choose(1, 4)
      k <- Gen.choose(2, 6)
      // two random permutations of the item space per query
      perms <- Gen.listOfN(nq, Gen.zip(
        Gen.pick(k, 1 to 10).map(_.toList), Gen.pick(k, 1 to 10).map(_.toList)))
      depths <- Gen.someOf(Seq(1, 2, 3, 5)).suchThat(_.nonEmpty)
    } yield (perms.zipWithIndex, depths.toSeq.sorted)
    forAll(gen, n = 8) { case (perms, depths) =>
      val a = perms.flatMap { case ((pa, _), q) =>
        pa.zipWithIndex.map { case (it, r) => (s"q$q", it.toLong, (r + 1).toLong) } }
      val b = perms.flatMap { case ((_, pb), q) =>
        pb.zipWithIndex.map { case (it, r) => (s"q$q", it.toLong, (r + 1).toLong) } }
      val got = graft.ops.Search.rankAgreement(
        a.toDF("q", "i", "rk"), b.toDF("q", "i", "rk"), "q", "i", "rk", depths)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      val nq = perms.size.toLong
      val want = depths.map { d =>
        val s = perms.map { case ((pa, pb), _) =>
          (pa.take(d).toSet intersect pb.take(d).toSet).size.toLong }.sum
        d.toLong -> ((nq, s, s * 1000 / (nq * d)))
      }.toMap
      assert(got == want, s"perms=$perms depths=$depths")
    }
  }

  test("labelNoiseByNeighbors law: equals a brute-force vote model on random clusters") {
    import SparkTestBase.spark.implicits._
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i); i += 1 }
      if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val comp = Gen.oneOf(0.0, 0.5, 1.0, 2.0)
    val gen = for {
      n <- Gen.choose(4, 9)
      vecs <- Gen.listOfN(n, Gen.listOfN(3, comp))
      labels <- Gen.listOfN(n, Gen.choose(0L, 2L))
      k <- Gen.choose(1, 4)
      minAgree <- Gen.choose(1L, 3L)
    } yield (vecs.zip(labels).zipWithIndex.map { case ((v, l), i) => (i.toLong, l, v) },
      k, minAgree)
    forAll(gen, n = 8) { case (items, k, minAgree) =>
      val got = graft.ops.Similarity.labelNoiseByNeighbors(
        items.toDF("id", "label", "vec"), "vec", "id", "label", k, minAgree)
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5)))).toMap
      val want = items.map { case (i, l, v) =>
        val nbrs = items.filter(_._1 != i)
          .sortBy { case (j, _, w) => (-cos(v, w), j) }.take(k)
        val votes = nbrs.groupBy(_._2).map { case (nl, g) => nl -> g.size.toLong }
        val (ml, mc) = votes.toSeq.sortBy { case (nl, c) => (-c, nl) }.head
        i -> ((ml, mc, nbrs.size.toLong, ml != l && mc >= minAgree))
      }.toMap
      assert(got == want, s"items=$items k=$k minAgree=$minAgree")
    }
  }

  test("labelNoiseByNeighbors law: IVF-exhaustive candidate frame votes equal the brute tier") {
    // the 100 TB path: any (query_id, neighbor_id, rank) frame drives the
    // same vote — with IVF in exhaustive mode (1 centroid, nprobe 1, the
    // ns_ann_ivf convention) the candidate set equals brute top-k, so the
    // two tiers must emit identical rows
    import SparkTestBase.spark.implicits._
    val items = (0L until 42L).map { i =>
      val cl = i % 3
      val lab = if (i == 7L) (cl + 1) % 3 else cl // one planted mislabel
      (i, lab,
        Seq(if (cl == 0) 10.0 else 0.0, if (cl == 1) 10.0 else 0.0,
          if (cl == 2) 10.0 else 0.0, (i % 5).toDouble))
    }.toDF("id", "label", "vec")
    val brute = graft.ops.Similarity.labelNoiseByNeighbors(
      items, "vec", "id", "label", k = 5, minAgree = 3L)
      .collect().map(_.toSeq).toSet
    val ivfNbrs = graft.ops.Similarity.ivfTopK(
      items.select("id", "vec"), items.select("id", "vec"), k = 5,
      nCentroids = 1, nprobe = 1)
    val viaFrame = graft.ops.Similarity.labelNoiseByNeighbors(
      items, ivfNbrs, "id", "label", minAgree = 3L)
      .collect().map(_.toSeq).toSet
    assert(viaFrame == brute)
    assert(brute.exists(r => r(0) == 7L && r(5) == true),
      "the planted mislabel must flag in both tiers")
    // self-pair invariance: a tier run with excludeSelf=false includes
    // (i, i) rows — the vote must drop them (an item's own label never
    // votes for itself) so the result still equals the brute tier
    val withSelf = graft.ops.Similarity.ivfTopK(
      items.select("id", "vec"), items.select("id", "vec"), k = 6,
      nCentroids = 1, nprobe = 1, excludeSelf = false)
    val viaSelfFrame = graft.ops.Similarity.labelNoiseByNeighbors(
      items, withSelf, "id", "label", minAgree = 3L)
    assert(viaSelfFrame.filter(org.apache.spark.sql.functions.col("id") === 7L)
      .select("flagged").collect()(0).getBoolean(0),
      "self-votes must not suppress the planted mislabel's flag")
  }

  test("docStitchCandidates law: exact mode equals a brute-force boundary model") {
    import SparkTestBase.spark.implicits._
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val gen = for {
      n <- Gen.choose(2, 10)
      texts <- Gen.listOfN(n, Gen.choose(0, 6).flatMap(m => Gen.listOfN(m, word)))
      k <- Gen.choose(1, 3)
    } yield (texts.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }, k)
    forAll(gen, n = 10) { case (docs, k) =>
      val got = graft.ops.Dedup.docStitchCandidates(
        docs.toDF("id", "text"), "text", "id", k = k, maxBucket = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val toks = docs.map { case (i, t) =>
        i -> t.trim.split("\\s+").toSeq.filter(_ => t.trim.nonEmpty) }.toMap
      val want = (for {
        (a, ta) <- toks; (b, tb) <- toks
        if a != b && ta.size >= k && tb.size >= k
        if ta.takeRight(k) == tb.take(k)
      } yield (a, b, ta.takeRight(k).mkString(" "))).toSet
      assert(got == want, s"docs=$docs k=$k")
    }
  }

  test("zipfProfile law: buckets and shares equal a driver-side model on random corpora") {
    import SparkTestBase.spark.implicits._
    val word = Gen.oneOf("x", "y", "z", "w", "v")
    val gen = for {
      n <- Gen.choose(1, 8)
      texts <- Gen.listOfN(n, Gen.choose(1, 12).flatMap(m => Gen.listOfN(m, word)))
    } yield texts.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    forAll(gen, n = 8) { docs =>
      val got = graft.ops.TextAnalysis.zipfProfile(docs.toDF("id", "text"), "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
      val counts = docs.flatMap(_._2.split("\\s+")).groupBy(identity)
        .map { case (_, g) => g.size.toLong }
      val total = counts.sum
      val byBucket = counts.groupBy(c => 63L - java.lang.Long.numberOfLeadingZeros(c))
        .map { case (b, cs) => b -> ((cs.size.toLong, cs.sum)) }
      val ordered = byBucket.toSeq.sortBy(_._1)
      val want = ordered.zipWithIndex.map { case ((b, (nt, tok)), i) =>
        b -> ((nt, tok, tok * 1000 / total,
          if (i == 0) None else Some(nt * 1000 / ordered(i - 1)._2._1)))
      }.toMap
      assert(got == want, s"docs=$docs")
    }
  }

  test("repeatedEpochValue law: staged fold equals a BigInt model, value never exceeds raw") {
    import SparkTestBase.spark.implicits._
    def model(tokens: Long, em: Long, d: Long): (Long, Long, Option[Long]) = {
      val e = em / 1000
      val frac = em - 1000 * e
      var (s, p) = (BigInt(0), BigInt(1000))
      for (_ <- 1L to e) { s += p; p = p * d / 1000 }
      val factor = s + BigInt(frac) * p / 1000
      val eff = (BigInt(tokens) * factor / 1000).toLong
      val raw = (BigInt(tokens) * em / 1000).toLong
      (eff, raw, if (raw > 0) Some(eff * 1000L / raw) else None)
    }
    val gen = for {
      n <- Gen.choose(1, 6)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 100000L), Gen.choose(0L, 9000L)))
      d <- Gen.choose(0L, 1000L)
    } yield (rows.zipWithIndex.map { case ((t, em), i) => (s"s$i", t, em) }, d)
    forAll(gen, n = 10) { case (rows, d) =>
      val got = graft.ops.Curation.repeatedEpochValue(
        rows.toDF("stratum", "tokens", "em"), "stratum", "tokens", "em", d)
        .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
      rows.foreach { case (k, t, em) =>
        assert(got(k) == model(t, em, d), s"row=($k,$t,$em) d=$d")
        // repetition can never be worth MORE than its raw token count
        assert(got(k)._1 <= got(k)._2)
      }
    }
  }

  test("temperatureMixture law: quarter-power weights equal a BigInt isqrt model") {
    import SparkTestBase.spark.implicits._
    def isq(x: BigInt): BigInt = BigInt(x.bigInteger.sqrt())
    val count = Gen.oneOf(
      Gen.choose(0L, 1000L),
      Gen.choose(0L, 31622L).map(k => k * k), // perfect squares: the floor boundary
      Gen.choose(1L, 31622L).map(k => k * k - 1), // one under a square
      Gen.choose(0L, 1000000000000000L)) // the full guard envelope
    val gen = for {
      n <- Gen.choose(1, 8)
      counts <- Gen.listOfN(n, count)
      q <- Gen.choose(1, 4)
      b <- Gen.choose(0L, 1000000L)
    } yield (counts.zipWithIndex.map { case (c, i) => (s"s$i", c) }, q, b)
    forAll(gen, n = 10) { case (rows, q, b) =>
      val got = graft.ops.Curation.temperatureMixture(
        rows.toDF("g", "c"), "g", "c", alphaQuarters = q, budgetTokens = b)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))).toMap
      val ws = rows.map { case (k, c) =>
        val n0 = BigInt(c); val s1 = isq(n0)
        val w = q match {
          case 1 => isq(s1); case 2 => s1; case 3 => isq(n0 * s1); case 4 => n0
        }
        k -> ((c, w))
      }
      val tot = ws.map(_._2._2).sum
      ws.foreach { case (k, (c, w)) =>
        val share = if (tot > 0) (w * 1000 / tot).toLong else 0L
        val target = if (tot > 0) (w * b / tot).toLong else 0L
        assert(got(k) == ((c, w.toLong, share, target)),
          s"rows=$rows q=$q b=$b stratum=$k")
      }
    }
  }

  test("preference tournament laws: consistency and Copeland equal brute-force models") {
    import SparkTestBase.spark.implicits._
    val gen = for {
      nJudg <- Gen.choose(1, 25)
      rows <- Gen.listOfN(nJudg, Gen.zip(
        Gen.choose(1, 2), Gen.choose(1L, 5L), Gen.choose(1L, 5L)))
    } yield rows.collect { case (p, w, l) if w != l => (s"p$p", w, l) }
    forAll(gen, n = 8) { judg =>
      if (judg.nonEmpty) {
        val df = judg.toDF("prompt", "winner", "loser")
        // brute-force per-prompt tournament model
        val byPrompt = judg.groupBy(_._1)
        val wantCons = byPrompt.map { case (p, js) =>
          val pairs = js.groupBy(j => (math.min(j._2, j._3), math.max(j._2, j._3)))
          val counts = pairs.map { case ((a, b), g) =>
            (a, b) -> ((g.count(_._2 == a).toLong, g.count(_._2 == b).toLong)) }
          // toSeq first: collecting pair elements straight out of a Map
          // would rebuild a Map and collapse edges sharing a source node
          val maj = counts.toSeq.collect {
            case ((a, b), (ab, ba)) if ab > ba => (a, b)
            case ((a, b), (ab, ba)) if ba > ab => (b, a)
          }.toSet
          val nodes = counts.keySet.flatMap(k => Set(k._1, k._2)).toSeq.sorted
          val cycles = (for {
            x <- nodes; y <- nodes; z <- nodes
            if x < y && x < z && y != z
            if maj((x, y)) && maj((y, z)) && maj((z, x))
          } yield 1).size.toLong
          val nContra = counts.values.count(c => c._1 > 0 && c._2 > 0).toLong
          val nTied = counts.values.count(c => c._1 == c._2).toLong
          p -> ((js.size.toLong, counts.size.toLong, nContra, nTied, cycles,
            nContra == 0 && cycles == 0))
        }
        val gotCons = graft.ops.Curation.preferenceConsistency(df, "prompt", "winner", "loser")
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
        assert(gotCons == wantCons, s"judg=$judg")
        // Copeland: wins - losses over the same majority graphs
        val wantCope = byPrompt.flatMap { case (p, js) =>
          val pairs = js.groupBy(j => (math.min(j._2, j._3), math.max(j._2, j._3)))
          val outcomes = pairs.toSeq.flatMap { case ((a, b), g) =>
            val (ab, ba) = (g.count(_._2 == a), g.count(_._2 == b))
            if (ab > ba) Seq((a, 1L, 0L, 0L), (b, 0L, 1L, 0L))
            else if (ba > ab) Seq((b, 1L, 0L, 0L), (a, 0L, 1L, 0L))
            else Seq((a, 0L, 0L, 1L), (b, 0L, 0L, 1L))
          }
          outcomes.groupBy(_._1).map { case (item, os) =>
            (p, item) -> ((os.map(_._2).sum, os.map(_._3).sum, os.map(_._4).sum))
          }
        }
        val gotCope = graft.ops.Curation.copelandScores(df, "prompt", "winner", "loser")
          .collect().map(r => (r.getString(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
        assert(gotCope == wantCope, s"judg=$judg")
      }
    }
  }

  test("preferencePairsFromScores law: equals a driver-side scan model, token conservation") {
    import SparkTestBase.spark.implicits._
    val gen = for {
      nPrompts <- Gen.choose(1, 6)
      rows <- Gen.listOfN(nPrompts * 3, Gen.zip(
        Gen.choose(1, nPrompts), Gen.choose(1L, 40L), Gen.choose(0L, 5L)))
      gap <- Gen.choose(1L, 4L)
    } yield (rows.map(r => (s"p${r._1}", r._2, r._3)).distinctBy(t => (t._1, t._2)), gap)
    forAll(gen, n = 8) { case (rows, gap) =>
      if (rows.nonEmpty) {
        val got = graft.ops.Curation.preferencePairsFromScores(
          rows.toDF("prompt", "cid", "score"), "prompt", "cid", "score", gap)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
        val want = rows.groupBy(_._1).flatMap { case (p, rs) =>
          val chosen = rs.minBy(t => (-t._3, t._2))
          val rejected = rs.minBy(t => (t._3, t._2))
          val g = chosen._3 - rejected._3
          if (g >= gap) Some(p -> ((chosen._2, rejected._2, chosen._3, rejected._3, g)))
          else None
        }
        assert(got == want, s"rows=$rows gap=$gap")
      }
    }
  }

  test("packEfficiency law: token and item conservation against any packed frame") {
    import SparkTestBase.spark.implicits._
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 4L), Gen.choose(1L, 20L)))
    forAll(gen, n = 8) { items =>
      if (items.nonEmpty) {
        val out = graft.ops.Curation.packEfficiency(
          items.toDF("pack_group", "bin_idx", "n_tokens"),
          Seq("pack_group", "bin_idx"), "n_tokens", budget = 16L).collect()
        assert(out.map(_.getLong(2)).sum == items.size.toLong, "items conserve")
        assert(out.map(_.getLong(3)).sum == items.map(_._3).sum, "tokens conserve")
        out.foreach { r =>
          assert(r.getLong(3) + r.getLong(4) == 16L, "used + waste == budget")
          assert(r.getLong(5) == r.getLong(3) * 1000 / 16, "fill permille exact")
        }
      }
    }
  }

  test("seedDistance law: full-radius BFS on a symmetrized graph reaches exactly the seed's component") {
    import org.apache.spark.sql.functions.col
    import SparkTestBase.spark.implicits._
    // random sparse graphs over 12 nodes; 30 trials keeps the spark jobs
    // affordable while covering connected, fragmented, and edgeless shapes
    val gGraph = for {
      nEdges <- Gen.choose(0, 18)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)))
      seed <- Gen.choose(0L, 11L)
    } yield (edges, seed)
    forAll(gGraph, n = 30) { case (edges, seed) =>
      val sym = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
      // driver-side reachability closure from the seed
      var reach = Set(seed)
      var grew = true
      while (grew) {
        val next = reach ++ sym.collect { case (a, b) if reach(a) => b }
        grew = next.size != reach.size
        reach = next
      }
      val edf =
        if (sym.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else sym.toDF("src", "dst")
      val d = graft.ops.Graph.seedDistance(edf, "src", "dst",
        Seq(seed).toDF("s"), "s", maxHops = 12)
      val got = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      d.unpersist()
      assert(got.keySet == reach,
        s"BFS closure mismatch: edges=$sym seed=$seed got=${got.keySet} want=$reach")
      // hop 0 is exactly the seed; every other distance is 1 + a neighbor's
      assert(got(seed) == 0L)
      got.foreach { case (node, h) =>
        if (node != seed)
          assert(sym.exists { case (a, b) => b == node && got.get(a).contains(h - 1) },
            s"node $node at hop $h needs a predecessor at ${h - 1}")
      }
    }
  }

  // ---- round-8 model laws: BT / MMR / drift vs exact references ---------

  test("bradleyTerry law: matches a BigInt reference replay of the MM recipe") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val gen = for {
      nItems <- Gen.chooseNum(2, 5)
      nGames <- Gen.chooseNum(1, 25)
      games <- Gen.listOfN(nGames, for {
        w <- Gen.chooseNum(0, nItems - 1)
        l <- Gen.chooseNum(0, nItems - 1)
      } yield (w.toLong, l.toLong))
    } yield games.filter { case (w, l) => w != l }
    forAll(gen.suchThat(_.nonEmpty), 25) { games =>
      val iters = 3
      val M = BigInt(1000000)
      // reference: exact BigInt replay of the documented integer recipe
      val pairs = games.map { case (w, l) => (w min l, w max l) }
        .groupBy(identity).view.mapValues(v => BigInt(v.size)).toMap
      val wins = games.groupBy(_._1).view.mapValues(v => BigInt(v.size)).toMap
      val items = pairs.keys.flatMap(p => Seq(p._1, p._2)).toSet
      var s: Map[Long, BigInt] = items.map(_ -> M).toMap
      for (_ <- 1 to iters) {
        val denom = scala.collection.mutable.Map[Long, BigInt]().withDefaultValue(BigInt(0))
        pairs.foreach { case ((a, b), n) =>
          val t = if (s(a) + s(b) > 0) n * M * M / (s(a) + s(b)) else BigInt(0)
          denom(a) += t; denom(b) += t
        }
        val raw = items.map { i =>
          i -> (if (denom(i) > 0) wins.getOrElse(i, BigInt(0)) * M * M / denom(i)
                else BigInt(0))
        }.toMap
        val mx = raw.values.max.max(BigInt(1))
        s = raw.map { case (i, r) => i -> r * M / mx }
      }
      val got = graft.ops.Curation.bradleyTerry(
        games.toDF("winner", "loser"), "winner", "loser", iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("skill_micro"))).toMap
      assert(got.keySet == items)
      items.foreach { i =>
        assert(BigInt(got(i)) == s(i), s"item $i: got ${got(i)} want ${s(i)} games=$games")
      }
    }
  }

  test("terComponents law: matches a plain-Scala token Levenshtein") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    def lev(a: Seq[String], b: Seq[String]): Long = {
      val m = b.length
      var prev = Array.tabulate(m + 1)(_.toLong)
      val curr = new Array[Long](m + 1)
      for (i <- a.indices) {
        curr(0) = i + 1L
        for (j <- 0 until m)
          curr(j + 1) = math.min(math.min(prev(j + 1) + 1, curr(j) + 1),
            prev(j) + (if (a(i) == b(j)) 0L else 1L))
        Array.copy(curr, 0, prev, 0, m + 1)
      }
      prev(m)
    }
    val tok = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val gen = for {
      na <- Gen.chooseNum(0, 12); nb <- Gen.chooseNum(0, 12)
      a <- Gen.listOfN(na, tok); b <- Gen.listOfN(nb, tok)
    } yield (a, b)
    forAll(gen, 40) { case (a, b) =>
      val out = graft.ops.EvalMetrics.terComponents(
        Seq((1L, a.mkString(" "), b.mkString(" "))).toDF("pair_id", "cand", "ref"),
        "pair_id", "cand", "ref").collect().head
      assert(out.getLong(out.fieldIndex("edit_ops")) == lev(a, b),
        s"a=$a b=$b")
    }
  }

  test("rougeL law: TokenLcsExpr matches a plain-Scala LCS") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    def lcs(a: Seq[String], b: Seq[String]): Long = {
      val m = b.length
      var prev = new Array[Long](m + 1)
      val curr = new Array[Long](m + 1)
      for (i <- a.indices) {
        for (j <- 0 until m)
          curr(j + 1) = math.max(math.max(prev(j + 1), curr(j)),
            prev(j) + (if (a(i) == b(j)) 1L else 0L))
        Array.copy(curr, 0, prev, 0, m + 1)
        java.util.Arrays.fill(curr, 0L)
      }
      prev(m)
    }
    val tok = Gen.oneOf("x", "y", "z", "w")
    val gen = for {
      na <- Gen.chooseNum(0, 12); nb <- Gen.chooseNum(0, 12)
      a <- Gen.listOfN(na, tok); b <- Gen.listOfN(nb, tok)
    } yield (a, b)
    forAll(gen, 40) { case (a, b) =>
      val out = graft.ops.EvalMetrics.rougeL(
        Seq((1L, a.mkString(" "), b.mkString(" "))).toDF("pair_id", "cand", "ref"),
        "pair_id", "cand", "ref").collect().head
      assert(out.getLong(out.fieldIndex("lcs_len")) == lcs(a, b),
        s"a=$a b=$b")
    }
  }

  test("selfBleuPairs law: count, derangement, injective pair ids at random n/peers") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(2, 40)
      peers <- Gen.chooseNum(1, 4)
      seed <- Gen.oneOf("s1", "s2", "s3")
    } yield (n, peers, seed)
    forAll(gen, 8) { case (n, peers, seed) =>
      // non-dense, non-contiguous ids: the ring rank must not assume them
      val docs = (0 until n).map(i => (i * 7L + 3L, s"text $i")).toDF("doc_id", "text")
      val rows = graft.ops.EvalMetrics.selfBleuPairs(
        docs, "text", "doc_id", peers, seed).collect()
      assert(rows.length == n * peers, s"n=$n peers=$peers")
      assert(rows.forall(r => r.getLong(1) != r.getLong(2)),
        s"self-pair at n=$n peers=$peers")
      assert(rows.map(_.getLong(0)).distinct.length == rows.length)
      // every doc appears as candidate exactly `peers` times
      val perCand = rows.groupBy(_.getLong(1)).view.mapValues(_.length)
      assert(perCand.values.forall(_ == peers))
    }
  }

  test("mmrSelect law: matches a plain-Scala greedy with identical arithmetic") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i); i += 1 }
      if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-5, 5).map(_.toDouble / 2))
    val gen = for {
      n <- Gen.chooseNum(3, 15)
      vecs <- Gen.listOfN(n, vecGen)
      q <- vecGen.suchThat(_.exists(_ != 0.0))
      k <- Gen.chooseNum(1, 5)
      lam <- Gen.oneOf(0, 300, 500, 1000)
    } yield (vecs.map(_.toArray), q.toArray, k, lam)
    forAll(gen, 25) { case (vecs, q, k, lam) =>
      val ids = vecs.indices.map(_.toLong)
      // reference greedy: same double ops in the same order as the operator
      val rel = vecs.map(v => cos(v, q))
      var selected = Vector.empty[Int]
      val picks = scala.collection.mutable.ArrayBuffer[Long]()
      while (picks.size < k && selected.size < vecs.size) {
        val cand = vecs.indices.filterNot(selected.contains)
        val best = cand.minBy { i =>
          val div = if (selected.isEmpty) 0.0
            else selected.map(sIdx => cos(vecs(i), vecs(sIdx))).max
          // the operator's micro-unit argmax grid: floor(score*1e6)
          // before the compare (this also absorbs IEEE -0.0 — both
          // zeros floor to 0L, so the old +0.0 normalization is moot)
          val score = math.floor(
            (rel(i) * (lam / 1000.0) - div * (1.0 - lam / 1000.0)) * 1e6).toLong
          (-score, i.toLong) // max score, tie to smaller id
        }
        selected :+= best; picks += best.toLong
      }
      val df = ids.zip(vecs).toDF("id", "vec")
      val got = graft.ops.Similarity.mmrSelect(df, "vec", "id", q, k, lam)
        .orderBy("rank").collect().map(_.getLong(1)).toSeq
      assert(got == picks.toSeq, s"lam=$lam k=$k got=$got want=$picks")
    }
  }

  test("distributionDrift law: matches a BigInt CDF reference") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val gen = for {
      na <- Gen.chooseNum(1, 30)
      nb <- Gen.chooseNum(1, 30)
      a <- Gen.listOfN(na, Gen.chooseNum(-10L, 110L))
      b <- Gen.listOfN(nb, Gen.chooseNum(-10L, 110L))
    } yield (a, b)
    val buckets = 10; val lo = 0L; val hi = 100L
    forAll(gen, 25) { case (a, b) =>
      def bucketOf(v: Long): Int =
        math.max(0, math.min(buckets - 1, ((v - lo) * buckets / (hi - lo)).toInt))
      val ca = a.groupBy(bucketOf).view.mapValues(_.size.toLong).toMap
      val cb = b.groupBy(bucketOf).view.mapValues(_.size.toLong).toMap
      val ta = BigInt(a.size); val tb = BigInt(b.size)
      var (cumA, cumB) = (BigInt(0), BigInt(0))
      var mx = BigInt(0); var sx = BigInt(0)
      (0 until buckets).foreach { bk =>
        cumA += BigInt(ca.getOrElse(bk, 0L)); cumB += BigInt(cb.getOrElse(bk, 0L))
        val x = (cumA * tb - cumB * ta).abs
        mx = mx.max(x); sx += x
      }
      val wantKs = mx * 1000000 / (ta * tb)
      val wantEmd = sx * 1000000 / (ta * tb)
      val out = graft.ops.Profile.distributionDrift(
        a.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v"),
        b.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v"),
        "v", buckets, lo, hi)
        .select("ks_micro", "emd_micro").head()
      assert(BigInt(out.getLong(0)) == wantKs, s"ks: a=$a b=$b")
      assert(BigInt(out.getLong(1)) == wantEmd, s"emd: a=$a b=$b")
    }
  }

  test("Go json.Marshal string quoting: literal goldens for the regexp payload and userAgent") {
    import graft.functions.{UserAgentParser, gjson}
    def quoted(s: String) = {
      val sb = new java.lang.StringBuilder
      gjson.quoteJson(sb, s)
      sb.toString
    }
    // expected values as Go 1.19's json.Marshal writes them
    val goldens = Seq(
      "" -> "\"\"",
      "plain text é/€" -> "\"plain text é/€\"",
      "a\"b\\c" -> "\"a\\\"b\\\\c\"",
      "x\ny\rz\tw" -> "\"x\\ny\\rz\\tw\"",
      "\u0000\u0001\b\f\u001f\u007f" -> "\"\\u0000\\u0001\\u0008\\u000c\\u001f\u007f\"",
      "<a>&amp;</a>" -> "\"\\u003ca\\u003e\\u0026amp;\\u003c/a\\u003e\"",
      "line\u2028para\u2029" -> "\"line\\u2028para\\u2029\"")
    goldens.foreach { case (in, want) => assert(quoted(in) == want, in) }
    val ua = UserAgentParser.Ua("p\tq", "os\n", "", "", "", "b<r>", "1\u2028", "", "", false, true)
    assert(ua.toJson == "{\"platform\":\"p\\tq\",\"operatingSystem\":{\"name\":\"os\\n\"," +
      "\"fullName\":\"\",\"version\":\"\"},\"localization\":\"\",\"browser\":{" +
      "\"name\":\"b\\u003cr\\u003e\",\"version\":\"1\\u2028\",\"engine\":\"\"," +
      "\"engineVersion\":\"\"},\"bot\":false,\"mobile\":true}")
  }

  test("shared integer-exact arithmetic: scaled, fBeta and cosPermille equal their Scala models") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when}
    import graft.functions.exact.{cosPermille, fBeta, normSq, scaled}
    val edge = Gen.oneOf(0L, 1L, -1L)
    def long(lo: Long, hi: Long) = Gen.frequency(1 -> edge, 4 -> Gen.chooseNum(lo, hi))
    val perm = Gen.option(long(-1000L, 1000000L))
    val gen = for {
      n <- long(-1000000000000L, 1000000000000L)
      d <- long(-1000000L, 1000000L)
      sc <- Gen.oneOf(1L, 1000L, 1000000L)
      p <- perm
      r <- perm
      dim <- Gen.chooseNum(1, 8)
      qa <- Gen.listOfN(dim, long(-1000000L, 1000000L))
      qb <- Gen.listOfN(dim, long(-1000000L, 1000000L))
    } yield (n, d, sc, p, r, qa, qb)
    forAll(gen, 60) { case (n, d, sc, p, r, qa, qb) =>
      val row = Seq((n, d, p, r, qa, qb)).toDF("n", "d", "p", "r", "qa", "qb")
        .select(scaled(col("n"), col("d"), sc).as("s"),
          fBeta(col("p"), col("r"), 1L).as("f1"), fBeta(col("p"), col("r"), 4L).as("f2"),
          // the callers' guard: a zero norm would divide by zero
          when(normSq(col("qa")) > 0 && normSq(col("qb")) > 0,
            cosPermille(col("qa"), normSq(col("qa")), col("qb"), normSq(col("qb")))).as("cos"))
        .head()
      def opt(i: Int): Option[Long] = if (row.isNullAt(i)) None else Some(row.getLong(i))
      val ctx = s"n=$n d=$d scale=$sc p=$p r=$r qa=$qa qb=$qb"
      assert(opt(0) == (if (d > 0) Some(n * sc / d) else None), ctx)
      def f(b2: Long): Option[Long] = for {
        pp <- p; rr <- r if b2 * pp + rr > 0
      } yield (1 + b2) * pp * rr / (b2 * pp + rr)
      assert(opt(1) == f(1L), ctx)
      assert(opt(2) == f(4L), ctx)
      val (na, nb) = (qa.map(x => x * x).sum, qb.map(x => x * x).sum)
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      assert(opt(3) == (if (na > 0 && nb > 0) Some(math.floor(1000.0 * dot /
        (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))).toLong) else None), ctx)
    }
  }

  test("hash-family kernels equal plain-Scala models built on PortableHash") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.functions.col
    import graft.functions.text
    import graft.functions.text.PortableHash
    def u(s: String) = UTF8String.fromString(s)
    val (shingleLen, numHashes, bands) = (3, 16, 4)
    val token = Gen.frequency(1 -> Gen.const[String](null),
      6 -> Gen.oneOf("a", "b", "The", "cat", "sat", "", "é"))
    val toksGen = Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, token))
    val textGen = Gen.chooseNum(0, 24).flatMap(Gen.listOfN(_,
      Gen.frequency(6 -> Gen.alphaChar, 2 -> Gen.const(' '), 1 -> Gen.oneOf('\t', '\n'))))
      .map(_.mkString)
    val gen = for {
      toks <- toksGen
      txt <- textGen
      k <- Gen.chooseNum(1, 6)
      w <- Gen.chooseNum(1, 4)
      buckets <- Gen.oneOf(1, 7, 64)
      maxN <- Gen.chooseNum(1, 3)
    } yield (toks, txt, k, w, buckets, maxN)
    // empty array, null elements, fewer tokens than shingleLen, texts
    // shorter than k, and null inputs, ahead of the generated cases
    val edges = Seq((Seq.empty[String], "", 5, 3, 64, 2), (Seq[String](null), "abcd", 5, 3, 7, 2),
      (Seq("a", null), " x ", 4, 2, 1, 3), (Seq("a", "b", "c"), "abcde", 5, 3, 64, 1),
      (null, null, 5, 3, 64, 2))

    def simhash(toks: Seq[String]): Long = {
      val votes = new Array[Int](64)
      for (t <- toks if t != null; b <- 0 until 64)
        votes(b) += (if (((PortableHash.h64(u(t)) >>> b) & 1L) == 1L) 1 else -1)
      (0 until 64).filter(votes(_) > 0).foldLeft(0L)((acc, b) => acc | (1L << b))
    }
    def minhashSig(toks: Seq[String]): Seq[Long] = {
      val ts = Option(toks).getOrElse(Nil).map(t => if (t == null) "" else t)
      val bases = if (toks == null) Nil
        else (0 until math.max(1, ts.length - shingleLen + 1))
          .map(i => PortableHash.h31(u(ts.slice(i, i + shingleLen).mkString(" "))))
      (0 until numHashes).map(j => (bases.map(PortableHash.perm(j, _)) :+ Long.MaxValue).min)
    }
    def bandBuckets(sig: Seq[Long]): Seq[Long] = {
      val rows = numHashes / bands
      (0 until bands).map(b => (0 until rows).foldLeft(b.toLong)((h, r) =>
        XXH64.hashLong(sig(b * rows + r), h)))
    }
    def winnow(s: String, k: Int, w: Int): Seq[Long] =
      if (s.length < k) Nil
      else {
        val hs = (0 to s.length - k).map(i => PortableHash.h31(u(s.substring(i, i + k))))
        if (hs.length <= w) Seq(hs.min) else hs.sliding(w).map(_.min).toSeq.distinct
      }
    def ngramCounts(s: String, buckets: Int, maxN: Int): Seq[(Int, Long)] = {
      val toks = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
        .toLowerCase.split("\\s+", -1).toSeq
      val grams = for (n <- 1 to maxN; g <- toks.sliding(n) if g.length == n) yield g.mkString(" ")
      grams.groupBy(g => (PortableHash.h31(u(g)) % buckets).toInt)
        .map { case (b, gs) => (b, gs.length.toLong) }.toSeq.sorted
    }

    def check(c: (Seq[String], String, Int, Int, Int, Int)): Unit = {
      val (toks, txt, k, w, buckets, maxN) = c
      val row = Seq((toks, txt)).toDF("toks", "text")
        .select(text.simhash64(col("toks")),
          text.minhash(col("toks"), shingleLen, numHashes, bands),
          text.winnowFingerprint(col("text"), k, w),
          text.hashedNgramCounts(col("text"), buckets, maxN))
        .head()
      val ctx = s"toks=$toks text='$txt' k=$k w=$w buckets=$buckets maxN=$maxN"
      val mh = row.getStruct(1)
      val sig = minhashSig(toks)
      assert(mh.getSeq[Long](0) == sig, ctx)
      assert(mh.getSeq[Long](1) == bandBuckets(sig), ctx)
      if (toks == null) assert(row.isNullAt(0), ctx)
      else assert(row.getLong(0) == simhash(toks), ctx)
      if (txt == null) assert(row.isNullAt(2) && row.isNullAt(3), ctx)
      else {
        assert(row.getSeq[Long](2) == winnow(txt, k, w), ctx)
        assert(row.getSeq[Row](3).map(r => (r.getInt(0), r.getLong(1))) ==
          ngramCounts(txt, buckets, maxN), ctx)
      }
    }
    edges.foreach(check)
    forAll(gen, 60)(check)
  }
}
