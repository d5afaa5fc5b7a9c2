package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.graft.{bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.json.{Js, JsArr}
import graft.path.GJsonPath
import graft.path.GJsonPath.ParsedPath
import graft.spec.TimeConv

/** Catalyst expressions implementing the reference transform semantics that
  * built-in functions cannot express exactly (gjson string/raw/missing
  * contracts — see graft.path.GJsonPath). All are eval-based
  * (CodegenFallback), the same execution class as Spark's own
  * `get_json_object`. The per-event kernels here (typed fields, array
  * items, regexp payload) run inside the compiled transform's one
  * generator (graft.compile.SpecCompiler.ExtractFieldsGen), which parses
  * each event exactly once — *fewer* parses than chaining built-in JSON
  * functions.
  */
object gjson {

  /** Field output types (reference cast table entity/spec.go:346-361). */
  sealed trait GType { def dataType: DataType }
  case object GString extends GType { val dataType: DataType = StringType }
  case object GInt extends GType { val dataType: DataType = LongType }
  case object GFloat extends GType { val dataType: DataType = DoubleType }
  case object GBool extends GType { val dataType: DataType = BooleanType }
  case object GIsoTimestamp extends GType { val dataType: DataType = TimestampType }
  case object GUnixTimestamp extends GType { val dataType: DataType = TimestampType }
  case object GUserAgent extends GType { val dataType: DataType = StringType }
  case object GRawBytes extends GType { val dataType: DataType = BinaryType }
  case object GRawString extends GType { val dataType: DataType = StringType }

  object GType {
    /** Spec `type` string → GType (transformer.go:315-330). `raw` flags the
      * empty-jsonPath whole-event case (transformer.go:361-368).
      */
    def of(specType: String, raw: Boolean): GType =
      if (raw) { if (specType == "string") GRawString else GRawBytes }
      else specType match {
        case "int" | "integer" => GInt
        // NB: the reference's cast switch (transformer.go:315-330) has no
        // "number" case despite the spec doc listing it — "number" falls
        // through to the string default, and we mirror the implementation.
        case "float" => GFloat
        case "bool" | "boolean" => GBool
        case "isoTimestamp" => GIsoTimestamp
        case "unixTimestamp" => GUnixTimestamp
        case "userAgent" => GUserAgent
        case _ => GString
      }
  }

  final case class CompiledField(id: String, path: Option[ParsedPath], gtype: GType)

  /** Convert one evaluated field to its Spark internal value, with gjson's
    * missing-field defaults (""/0/0.0/false/zero-time) — the extractFields
    * workhorse (C1). A userAgent value is null when its escaping is invalid.
    */
  private[graft] def fieldValue(f: CompiledField, root: Option[Js], rawEvent: UTF8String): Any =
    f.path match {
      case None =>
        f.gtype match {
          case GRawString => rawEvent.clone()
          case _ => rawEvent.getBytes.clone()
        }
      case Some(p) =>
        val v = root.flatMap(GJsonPath.eval(_, p))
        f.gtype match {
          case GString | GRawString =>
            UTF8String.fromString(v.map(GJsonPath.stringOf).getOrElse(""))
          case GInt => v.map(GJsonPath.longOf).getOrElse(0L)
          case GFloat => v.map(GJsonPath.doubleOf).getOrElse(0.0)
          case GBool => v.exists(GJsonPath.boolOf)
          case GIsoTimestamp =>
            v.map(GJsonPath.timeMicrosOf).getOrElse(GJsonPath.ZeroTimeMicros)
          case GUnixTimestamp => v.map(GJsonPath.longOf).getOrElse(0L) * 1000L
          case GUserAgent =>
            val s = v.map(GJsonPath.stringOf).getOrElse("")
            UserAgentParser.parse(s) match {
              case Some(ua) => UTF8String.fromString(ua.toJson)
              case None => null
            }
          case GRawBytes => rawEvent.getBytes.clone()
        }
    }

  /** extractItemsFromArray (D1, transformer.go:336-359): a JSON array as a
    * map of {concat-key → raw item JSON}; items whose key is empty are
    * dropped. Key fields use gjson `Result.Str` (string-typed values only,
    * like the reference).
    */
  private[graft] def itemsMap(root: Option[Js], arrayPath: ParsedPath, delimiter: String,
      idFields: Seq[ParsedPath]): ArrayBasedMapData = {
    // LinkedHashMap: duplicate item ids overwrite (the reference stores
    // into a Go map — last item wins) while Spark's MapData gets unique
    // keys in first-seen order.
    val entries = scala.collection.mutable.LinkedHashMap.empty[String, String]
    root.flatMap(GJsonPath.eval(_, arrayPath)).foreach {
      case arr: JsArr =>
        arr.items.foreach { item =>
          val id = idFields.map { f =>
            GJsonPath.eval(item, f) match {
              case Some(graft.json.JsStr(s, _, _, _)) => s
              case _ => "" // non-string values contribute "" (gjson .Str)
            }
          }.mkString(delimiter)
          if (id.nonEmpty) entries(id) = item.raw
        }
      case _ =>
    }
    new ArrayBasedMapData(
      new GenericArrayData(entries.keys.toArray.map(UTF8String.fromString(_): Any)),
      new GenericArrayData(entries.values.toArray.map(UTF8String.fromString(_): Any)))
  }

  /** regexp transform (E1/E2, transformer.go:178-268): apply the translated
    * RE2 pattern, emit {groupName → capture} as JSON with sorted keys
    * (Go json.Marshal map ordering), optional Go-layout time conversion of
    * one group. Null on non-match or time-parse failure — the caller routes
    * that to the error path, preserving the reference's fail-on-non-match
    * contract.
    */
  final case class RegexpKernel(pattern: String, groups: Seq[String], timeConv: Option[TimeConv]) {
    @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)
    @transient private lazy val tcFormats = timeConv.map { tc =>
      (GoTimeLayout.toFormatter(tc.inputFormat),
        if (tc.outputFormat.isEmpty) GoTimeLayout.Rfc3339 else GoTimeLayout.toFormatter(tc.outputFormat))
    }
    def apply(s: String): UTF8String = {
      val m = compiled.matcher(s)
      if (!m.find()) return null
      var kv = Map.empty[String, String]
      var i = 0
      while (i < groups.length && i < m.groupCount()) {
        val g = m.group(i + 1)
        kv += groups(i) -> (if (g == null) "" else g)
        i += 1
      }
      timeConv match {
        case Some(tc) =>
          val (inF, outF) = tcFormats.get
          kv.get(tc.field) match {
            case Some(date) =>
              GoTimeLayout.timeConv(inF, outF, date) match {
                case Some(out) => kv += tc.field -> out
                case None => return null // unparseable date = error path
              }
            case None =>
          }
        case None =>
      }
      val sb = new java.lang.StringBuilder("{")
      kv.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((k, v), idx) =>
        if (idx > 0) sb.append(',')
        quoteJson(sb, k)
        sb.append(':')
        quoteJson(sb, v)
      }
      sb.append('}')
      UTF8String.fromString(sb.toString)
    }
  }

  /** Append `s` to `sb` as a JSON string, escaped the way Go 1.19's
    * `json.Marshal` writes it (`encodeState.string` with HTML escaping on):
    * `\"`, `\\`, `\n`, `\r` and `\t` as two-character escapes; every other
    * control character and `<`, `>`, `&` as a lowercase `\u00xx`; U+2028
    * and U+2029 as `\u2028` / `\u2029`. Appends into the caller's builder
    * so a serializer pays no String per field.
    */
  private[graft] def quoteJson(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var from = 0 // start of the run of characters that need no escape
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val esc = (c: @scala.annotation.switch) match {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case '<' | '>' | '&' | '\u2028' | '\u2029' => unicodeEscape(c)
        case _ => if (c < ' ') unicodeEscape(c) else null
      }
      if (esc != null) {
        sb.append(s, from, i).append(esc)
        from = i + 1
      }
      i += 1
    }
    sb.append(s, from, s.length).append('"')
  }

  private def unicodeEscape(c: Char): String = {
    val hex = Integer.toHexString(c)
    "\\u0000".substring(0, 6 - hex.length) + hex
  }

  /** `userAgent` field type as a standalone scalar function (F8). */
  case class ParseUserAgentExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any =
      UserAgentParser.parse(input.asInstanceOf[UTF8String].toString) match {
        case Some(ua) => UTF8String.fromString(ua.toJson)
        case None => null
      }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  // ------------------------------------------------------ Column helpers

  def parseUserAgent(col: Column): Column =
    ExpressionUtils.column(ParseUserAgentExpr(ExpressionUtils.expression(col)))
}
