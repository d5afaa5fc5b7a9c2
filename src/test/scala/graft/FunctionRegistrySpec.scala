package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{text, GraftFunctions, GraftExtensions}

/** The SQL surface must be the SAME Catalyst expressions as the Column
  * wrappers: every registered function is cross-checked SQL-vs-DataFrame
  * on real input, and the extensions route must yield a session where the
  * functions resolve without explicit registration.
  */
class FunctionRegistrySpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  GraftFunctions.register(spark)

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog the quick brown fox"),
    (2L, "pack my box with five dozen liquor jugs and then pack it again"),
    (3L, "a b")
  ).toDF("id", "text")
  docs.createOrReplaceTempView("frdocs")

  test("SQL route equals the Column route for every text-scalar function") {
    val viaSql = spark.sql(
      """SELECT id,
        |  graft_simhash64(split(lower(text), ' ')) AS sh,
        |  graft_minhash(split(lower(text), ' '), 3, 16, 4) AS mh,
        |  graft_winnow(text, 8, 4) AS wf,
        |  graft_word_ngrams(text, 2, false) AS ng,
        |  graft_repetition_stats(text) AS rep,
        |  graft_compression_ratio(text) AS cr,
        |  graft_word_chunks(text, 5, 1) AS ch,
        |  graft_passjoin_keys(text, 1, false) AS pk,
        |  graft_term_matches(text, array('quick brown', 'pack', 'a'), true) AS tm,
        |  graft_jaro_winkler(text, reverse(text)) AS jw
        |FROM frdocs""".stripMargin)
    val viaCol = docs.select(col("id"),
      text.simhash64(split(lower(col("text")), " ")).as("sh"),
      text.minhash(split(lower(col("text")), " "), 3, 16, 4).as("mh"),
      text.winnowFingerprint(col("text"), 8, 4).as("wf"),
      text.wordNgrams(col("text"), 2, distinct = false).as("ng"),
      text.repetitionStats(col("text")).as("rep"),
      text.compressionRatio(col("text")).as("cr"),
      text.wordChunks(col("text"), 5, 1).as("ch"),
      text.passJoinKeys(col("text"), 1, index = false).as("pk"),
      text.termMatches(col("text"), Seq("quick brown", "pack", "a"), caseInsensitive = true).as("tm"),
      text.jaroWinkler(col("text"), reverse(col("text"))).as("jw"))
    assert(viaSql.schema == viaCol.schema)
    val a = viaSql.orderBy("id").collect().map(_.toString).toSeq
    val b = viaCol.orderBy("id").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("token_lcs and bleu_components resolve and agree with the wrappers") {
    val viaSql = spark.sql(
      """SELECT id,
        |  graft_token_lcs(split(lower(text), ' '), reverse(split(lower(text), ' '))) AS lcs,
        |  graft_bleu_components(split(lower(text), ' '), reverse(split(lower(text), ' '))) AS bc
        |FROM frdocs""".stripMargin)
    val viaCol = docs.select(col("id"),
      text.tokenLcs(split(lower(col("text")), " "),
        reverse(split(lower(col("text")), " "))).as("lcs"),
      text.bleuComponentsStruct(split(lower(col("text")), " "),
        reverse(split(lower(col("text")), " "))).as("bc"))
    assert(viaSql.schema == viaCol.schema)
    val a = viaSql.orderBy("id").collect().map(_.toString).toSeq
    val b = viaCol.orderBy("id").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("g_pass_micro resolves and agrees with the wrapper (exact tail)") {
    val viaSql = spark.sql("SELECT graft_g_pass_micro(10, 4, 3, 1, 2) AS g")
      .collect().head.getLong(0)
    val viaCol = spark.range(1).select(
      text.gPassAtKMicro(lit(10L), lit(4L), lit(3L), lit(1L), lit(2L)).as("g"))
      .collect().head.getLong(0)
    assert(viaSql == viaCol)
    // n=10, c=4, k=3, tau=1/2 -> j0=2: (C(4,2)C(6,1) + C(4,3)C(6,0)) /
    // C(10,3) = 40/120 = 1/3 -> 333333
    assert(viaSql == 333333L)
  }

  test("cosine, phash, useragent resolve and agree with the wrappers") {
    val ua = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) Chrome/91.0.4472.114 Safari/537.36"
    val row = spark.sql(
      s"""SELECT graft_cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
         |  graft_media_phash(cast('abcdef' AS binary)) AS p,
         |  graft_parse_useragent('$ua') AS fam
         |""".stripMargin).collect().head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    val viaCol = Seq("abcdef").toDF("s")
      .select(text.mediaPHash(col("s").cast("binary"))).collect().head.getLong(0)
    assert(row.getLong(1) == viaCol)
    val uaViaCol = Seq(ua).toDF("u")
      .select(graft.functions.gjson.parseUserAgent(col("u")))
      .collect().head.getString(0)
    assert(row.getString(2) == uaViaCol && uaViaCol != null)
  }

  private def messagesOf(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    while (cur != null) { sb.append(cur.getMessage).append(" | "); cur = cur.getCause }
    sb.toString
  }

  test("builders reject wrong arity and non-literal config args") {
    val e1 = intercept[Throwable](spark.sql("SELECT graft_minhash(array('a'))").collect())
    assert(messagesOf(e1).contains("graft_minhash expects 4..4 arguments"))
    val e2 = intercept[Throwable](
      spark.sql("SELECT graft_winnow(text, id, 4) FROM frdocs").collect())
    assert(messagesOf(e2).contains("argument 2 must be an integer literal"))
  }

  test("GraftExtensions injects the same functions at session build") {
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // reuses the existing SparkContext; extensions apply because this
      // builds a genuinely new session
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions().apply(_))
        .getOrCreate()
      assert(s2 ne orig)
      val n = s2.sql("SELECT graft_simhash64(array('x', 'y')) AS h")
        .collect().head.getLong(0)
      val m = s2.sql("SELECT graft_simhash64(array('x', 'y')) AS h")
        .collect().head.getLong(0)
      assert(n == m)
    } finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }
}
