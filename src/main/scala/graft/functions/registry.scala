package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, ExpressionInfo}

/** SQL surface for the graft custom expressions: every scalar expression
  * whose configuration is literal-expressible is registered as a
  * `graft_*` SQL function, so `spark.sql("SELECT graft_simhash64(...)")`
  * works anywhere the DataFrame wrappers in [[graft.functions.text]] do —
  * the two routes build the IDENTICAL Catalyst expression, so plans,
  * codegen, and results cannot differ.
  *
  * Two registration routes, one function table:
  *   - `spark.sql.extensions=graft.functions.GraftExtensions` (cluster
  *     conf; applies at session build via `injectFunction`) — the
  *     standard Spark extension-library pattern;
  *   - [[GraftFunctions.register]] on a live session (notebooks, tests).
  *
  * Config arguments (shingle lengths, band counts, flags) must be
  * literals — builders reject non-foldable expressions with the argument
  * position in the message rather than failing downstream in codegen.
  */
object GraftFunctions {

  private def need(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalArgumentException(msg)

  private def arity(fn: String, args: Seq[Expression], allowed: Range): Unit =
    need(allowed.contains(args.length),
      s"$fn expects ${allowed.min}..${allowed.max} arguments, got ${args.length}")

  private def intArg(fn: String, args: Seq[Expression], pos: Int): Int = {
    val e = args(pos)
    need(e.foldable, s"$fn argument ${pos + 1} must be an integer literal")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn argument ${pos + 1} must be an integer literal, got $other")
    }
  }

  private def stringArrayArg(fn: String, args: Seq[Expression], pos: Int): Seq[String] = {
    val e = args(pos)
    need(e.foldable, s"$fn argument ${pos + 1} must be a string-array literal")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until a.numElements()).map { i =>
          val v = a.get(i, org.apache.spark.sql.types.StringType)
          need(v != null, s"$fn argument ${pos + 1} must not contain nulls")
          v.toString
        }
      case other => throw new IllegalArgumentException(
        s"$fn argument ${pos + 1} must be a string-array literal, got $other")
    }
  }

  private def boolArg(fn: String, args: Seq[Expression], pos: Int,
      default: Boolean): Boolean =
    if (args.length <= pos) default
    else {
      val e = args(pos)
      need(e.foldable, s"$fn argument ${pos + 1} must be a boolean literal")
      e.eval() match {
        case b: Boolean => b
        case other => throw new IllegalArgumentException(
          s"$fn argument ${pos + 1} must be a boolean literal, got $other")
      }
    }

  /** (name, builder) for every SQL-exposed expression. Arg conventions
    * mirror the [[text]] wrappers; see each expression's scaladoc.
    */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // graft_simhash64(tokens array<string>)
    "graft_simhash64" -> { args =>
      arity("graft_simhash64", args, 1 to 1)
      text.SimHash64Expr(args.head)
    },
    // graft_minhash(tokens array<string>, shingleLen, numHashes, bands)
    "graft_minhash" -> { args =>
      arity("graft_minhash", args, 4 to 4)
      text.MinHashExpr(args.head,
        intArg("graft_minhash", args, 1),
        intArg("graft_minhash", args, 2),
        intArg("graft_minhash", args, 3))
    },
    // graft_winnow(text [, k, w])
    "graft_winnow" -> { args =>
      arity("graft_winnow", args, 1 to 3)
      val k = if (args.length > 1) intArg("graft_winnow", args, 1) else 8
      val w = if (args.length > 2) intArg("graft_winnow", args, 2) else 4
      text.WinnowFingerprintExpr(args.head, k, w)
    },
    // graft_word_ngrams(text, n [, distinct])
    "graft_word_ngrams" -> { args =>
      arity("graft_word_ngrams", args, 2 to 3)
      text.WordNgramsExpr(args.head, intArg("graft_word_ngrams", args, 1),
        boolArg("graft_word_ngrams", args, 2, default = false))
    },
    // graft_repetition_stats(text)
    "graft_repetition_stats" -> { args =>
      arity("graft_repetition_stats", args, 1 to 1)
      text.RepetitionStatsExpr(args.head)
    },
    // graft_compression_ratio(text)
    "graft_compression_ratio" -> { args =>
      arity("graft_compression_ratio", args, 1 to 1)
      text.CompressionRatioExpr(args.head)
    },
    // graft_cosine_sim(a array<double>, b array<double>)
    "graft_cosine_sim" -> { args =>
      arity("graft_cosine_sim", args, 2 to 2)
      text.CosineSimExpr(args.head, args(1))
    },
    // graft_media_phash(content binary)
    "graft_media_phash" -> { args =>
      arity("graft_media_phash", args, 1 to 1)
      text.MediaPHashExpr(args.head)
    },
    // graft_parse_useragent(ua string)
    "graft_parse_useragent" -> { args =>
      arity("graft_parse_useragent", args, 1 to 1)
      gjson.ParseUserAgentExpr(args.head)
    },
    // graft_word_chunks(text, size, overlap)
    "graft_word_chunks" -> { args =>
      arity("graft_word_chunks", args, 3 to 3)
      text.WordChunksExpr(args.head, intArg("graft_word_chunks", args, 1),
        intArg("graft_word_chunks", args, 2))
    },
    // graft_passjoin_keys(text, maxDist, index bool)
    "graft_passjoin_keys" -> { args =>
      arity("graft_passjoin_keys", args, 3 to 3)
      text.PassJoinKeysExpr(args.head, intArg("graft_passjoin_keys", args, 1),
        boolArg("graft_passjoin_keys", args, 2, default = false))
    },
    // graft_term_matches(text, array('term', ...) [, caseInsensitive])
    "graft_term_matches" -> { args =>
      arity("graft_term_matches", args, 2 to 3)
      text.TermMatchExpr(args.head,
        stringArrayArg("graft_term_matches", args, 1),
        boolArg("graft_term_matches", args, 2, default = true))
    },
    // graft_jaro_winkler(a string, b string)
    "graft_jaro_winkler" -> { args =>
      arity("graft_jaro_winkler", args, 2 to 2)
      text.JaroWinklerExpr(args.head, args(1))
    },
    // graft_token_lcs(a array<string>, b array<string>) — the ROUGE-L
    // kernel (longest common token subsequence length)
    "graft_token_lcs" -> { args =>
      arity("graft_token_lcs", args, 2 to 2)
      text.TokenLcsExpr(args.head, args(1))
    },
    // graft_bleu_components(cand array<string>, ref array<string>) — the
    // row-local clipped-count kernel (struct of lengths + matches/totals
    // for n = 1..4) over the one reference
    "graft_bleu_components" -> { args =>
      arity("graft_bleu_components", args, 2 to 2)
      text.BleuMultiRefExpr(args.head, CreateArray(Seq(args(1))))
    },
    // graft_corr_permille(num, dx, dy) — integer-exact Pearson tail;
    // arguments are cast to DECIMAL(38,0) (the co-moment carrier type)
    "graft_corr_permille" -> { args =>
      arity("graft_corr_permille", args, 3 to 3)
      def dec(e: Expression): Expression =
        org.apache.spark.sql.catalyst.expressions.Cast(
          e, org.apache.spark.sql.types.DecimalType(38, 0))
      text.CorrPermilleExpr(dec(args.head), dec(args(1)), dec(args(2)))
    },
    // graft_g_pass_micro(n, c, k, tau_num, tau_den) — exact G-Pass@k_tau
    // hypergeometric tail on the micro grid (arbitrary precision)
    "graft_g_pass_micro" -> { args =>
      arity("graft_g_pass_micro", args, 5 to 5)
      text.GPassAtKExpr(args.map(e =>
        org.apache.spark.sql.catalyst.expressions.Cast(
          e, org.apache.spark.sql.types.LongType)))
    })

  private def infoOf(name: String): ExpressionInfo =
    new ExpressionInfo(GraftFunctions.getClass.getCanonicalName, name)

  /** Enable the `graft_*` SQL functions on a live session. Idempotent
    * (re-registration replaces the same builder).
    */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      org.apache.spark.sql.graft.bridge.registerFunction(
        spark, FunctionIdentifier(name), infoOf(name), builder)
    }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` — injects the
  * [[GraftFunctions]] table at session build, the zero-code-change way to
  * get the SQL surface on every session of a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo(GraftFunctions.getClass.getCanonicalName, name),
          builder))
    }
}
