package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.graft.{bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.compile.EventPred
import graft.json.{Js, JsArr}
import graft.path.GJsonPath
import graft.path.GJsonPath.ParsedPath
import graft.spec.TimeConv

/** Catalyst expressions implementing the reference transform semantics that
  * built-in functions cannot express exactly (gjson string/raw/missing
  * contracts — see graft.path.GJsonPath). All are eval-based
  * (CodegenFallback), the same execution class as Spark's own
  * `get_json_object`; each parses its input document exactly once per row
  * regardless of how many fields/conditions it computes, which is *fewer*
  * parses than chaining built-in JSON functions.
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
    * missing-field defaults (""/0/0.0/false/zero-time).
    */
  private def fieldValue(f: CompiledField, root: Option[Js], rawEvent: UTF8String): Any =
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

  /** Project a JSON event column into a struct of spec-typed fields —
    * the extractFields workhorse (C1). One JSON parse per row for all
    * fields of a branch.
    */
  /** Shared parse + row-build for the two extraction expressions — keeps
    * the plain and fused paths in lockstep.
    */
  private def parseEvent(raw: Any): (Option[Js], UTF8String) = {
    val rawStr = if (raw == null) UTF8String.EMPTY_UTF8 else raw.asInstanceOf[UTF8String]
    (Js.parse(rawStr.toString), rawStr)
  }
  private def fieldsRow(fields: Seq[CompiledField], root: Option[Js], rawStr: UTF8String): InternalRow =
    InternalRow.fromSeq(fields.map(fieldValue(_, root, rawStr)))
  private def fieldsSchema(fields: Seq[CompiledField]): StructType =
    StructType(fields.map(f => StructField(f.id, f.gtype.dataType, nullable = f.gtype == GUserAgent)))

  case class ExtractFieldsExpr(child: Expression, fields: Seq[CompiledField])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = fieldsSchema(fields)
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val (root, rawStr) = parseEvent(child.eval(input))
      fieldsRow(fields, root, rawStr)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** Fused filter+projection as a GENERATOR (flatMap): emits the field row
    * when the keep∧branch predicate passes, nothing otherwise — predicate
    * and extraction share ONE JSON parse per row. A generator (rather than
    * a nullable projection + isNotNull filter) is load-bearing here:
    * Catalyst pushes filters through projections by re-inlining the
    * projected expression, which would evaluate the parse twice; filters
    * cannot push through Generate on generated attributes, so single
    * evaluation is structural (PlanSpec asserts it).
    */
  case class ExtractFieldsGen(child: Expression, fields: Seq[CompiledField], pred: EventPred)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.Generator with CodegenFallback {
    override def elementSchema: StructType = fieldsSchema(fields)
    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val (root, rawStr) = parseEvent(child.eval(input))
      if (!pred.eval(root)) Nil
      else fieldsRow(fields, root, rawStr) :: Nil
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** Spec-compiled boolean predicate over a JSON event column (filters B1-B6
    * + branch routing B5). One JSON parse per row for the whole predicate
    * tree.
    */
  case class EventPredExpr(child: Expression, pred: EventPred)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val raw = child.eval(input)
      val root = if (raw == null) None else Js.parse(raw.asInstanceOf[UTF8String].toString)
      pred.eval(root)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** extractItemsFromArray (D1, transformer.go:336-359): explode a JSON
    * array into a map of {concat-key → raw item JSON}; items whose key is
    * empty are dropped. Key fields use gjson `Result.Str` (string-typed
    * values only, like the reference).
    */
  case class ItemsFromArrayExpr(child: Expression, arrayPath: ParsedPath, delimiter: String, idFields: Seq[ParsedPath])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val raw = child.eval(input)
      val root = if (raw == null) None else Js.parse(raw.asInstanceOf[UTF8String].toString)
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
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** regexp transform (E1/E2, transformer.go:178-268): apply the translated
    * RE2 pattern, emit {groupName → capture} as JSON with sorted keys
    * (Go json.Marshal map ordering), optional Go-layout time conversion of
    * one group. Null on non-match or time-parse failure — the caller routes
    * that to the error path, preserving the reference's fail-on-non-match
    * contract.
    */
  case class RegexpPayloadExpr(child: Expression, pattern: String, groups: Seq[String], timeConv: Option[TimeConv])
      extends UnaryExpression with CodegenFallback {
    override def nullable: Boolean = true
    @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)
    @transient private lazy val tcFormats = timeConv.map { tc =>
      (GoTimeLayout.toFormatter(tc.inputFormat),
        if (tc.outputFormat.isEmpty) GoTimeLayout.Rfc3339 else GoTimeLayout.toFormatter(tc.outputFormat))
    }
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
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
        sb.append(jsonQuote(k)).append(':').append(jsonQuote(v))
      }
      sb.append('}')
      UTF8String.fromString(sb.toString)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  private def jsonQuote(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      // Go json.Marshal HTML-escapes these by default — payload parity
      case '<' => sb.append("\\u003c")
      case '>' => sb.append("\\u003e")
      case '&' => sb.append("\\u0026")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
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

  def extractFields(col: Column, fields: Seq[CompiledField]): Column =
    ExpressionUtils.column(ExtractFieldsExpr(ExpressionUtils.expression(col), fields))

  /** Fused filter+projection rows (see [[ExtractFieldsGen]]): alias with
    * `.as(fieldIds)` like any multi-column generator.
    */
  def extractFieldsRows(col: Column, fields: Seq[CompiledField], pred: EventPred): Column =
    ExpressionUtils.column(ExtractFieldsGen(ExpressionUtils.expression(col), fields, pred))

  def eventPred(col: Column, pred: EventPred): Column =
    ExpressionUtils.column(EventPredExpr(ExpressionUtils.expression(col), pred))

  def itemsFromArray(col: Column, arrayPath: String, delimiter: String, idFields: Seq[String]): Column =
    ExpressionUtils.column(ItemsFromArrayExpr(ExpressionUtils.expression(col),
      GJsonPath.parse(arrayPath), delimiter, idFields.map(GJsonPath.parse)))

  def regexpPayload(col: Column, re2: String, groups: Seq[String], timeConv: Option[TimeConv]): Column =
    ExpressionUtils.column(RegexpPayloadExpr(ExpressionUtils.expression(col),
      Re2.toJavaRegex(re2), groups, timeConv))

  def parseUserAgent(col: Column): Column =
    ExpressionUtils.column(ParseUserAgentExpr(ExpressionUtils.expression(col)))
}
