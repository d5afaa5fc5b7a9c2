package graft.spec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Stream Spec domain model — the "query language" of the engine.
  *
  * Semantics mirror the reference spec model (/root/reference/entity/spec.go:36-52,
  * defaults :88-196, transform :224-361, regexp /root/reference/entity/regexp.go),
  * re-expressed as Scala case classes. A spec compiles (see
  * [[graft.compile.SpecCompiler]]) into a `DataFrame => Seq[(branch, DataFrame)]`
  * pipeline, usable identically in batch and Structured Streaming.
  */
final case class StreamSpec(
    namespace: String,
    streamIdSuffix: String,
    description: String,
    version: Int,
    disabled: Boolean = false,
    ops: Ops = Ops(),
    opsPerEnv: Map[String, Ops] = Map.empty,
    source: SourceSpec,
    transform: TransformSpec = TransformSpec(),
    sink: SinkSpec
) {
  /** Stream id = namespace + "-" + suffix (entity/spec.go:80-82). */
  def id: String = s"$namespace-$streamIdSuffix"

  /** Resolve the effective Ops for an environment (registry.go:88-106). */
  def opsFor(env: String): Ops = opsPerEnv.getOrElse(env, ops)

  def isDisabledIn(env: String): Boolean =
    opsPerEnv.get(env).flatMap(_.disabled).getOrElse(disabled)
}

/** Handling of unretryable events (entity/spec.go:20-26). */
object Houe {
  val Default = "default"
  val Discard = "discard"
  val Dlq = "dlq"
  val Fail = "fail"
  val all: Set[String] = Set(Default, Discard, Dlq, Fail)
}

final case class Ops(
    streamsPerPod: Int = 1,
    disabled: Option[Boolean] = None,
    microBatch: Boolean = false,
    microBatchSize: Int = 500,
    microBatchBytes: Int = 5000000,
    microBatchTimeoutMs: Int = 15000,
    maxEventProcessingRetries: Int = 5,
    maxStreamRetryBackoffIntervalSec: Int = 300,
    handlingOfUnretryableEvents: String = Houe.Default,
    logEventData: Boolean = false,
    customProperties: Map[String, String] = Map.empty
)

final case class SourceSpec(sourceType: String, config: EntityConfig = EntityConfig())
final case class SinkSpec(sinkType: String, config: EntityConfig = EntityConfig())

final case class EntityConfig(
    properties: Map[String, String] = Map.empty,
    customConfig: Option[JsonNode] = None
)

final case class TransformSpec(
    excludeEventsWith: Seq[ExcludeEventsWith] = Nil,
    excludeEventsWithMultipleConditions: Seq[MultiCondExclude] = Nil,
    extractFields: Seq[ExtractFields] = Nil,
    extractItemsFromArray: Seq[ExtractItemsFromArray] = Nil,
    regexp: Option[RegexpSpec] = None
)

/** Blacklist / whitelist / empty-check filter (entity/spec.go:260-277). */
final case class ExcludeEventsWith(
    key: String,
    values: Seq[String] = Nil,
    valuesNotIn: Seq[String] = Nil,
    valueIsEmpty: Option[Boolean] = None
)

/** AND-combination of filters; list of these = OR of ANDs (DNF). */
final case class MultiCondExclude(filters: Seq[ExcludeEventsWith])

final case class ForEventsWith(key: String, value: String)

final case class ExtractFields(
    forEventsWith: Seq[ForEventsWith] = Nil,
    excludeEventsWith: Seq[ExcludeEventsWith] = Nil,
    fields: Seq[Field] = Nil
)

/** Field extraction: jsonPath empty/omitted = whole raw event
  * (entity/spec.go:339-344); `fieldType` per entity/spec.go:346-361.
  */
final case class Field(id: String, jsonPath: String = "", fieldType: String = "")

final case class ExtractItemsFromArray(id: String, forEventsWith: Seq[ForEventsWith] = Nil, items: ArrayItems)
final case class ArrayItems(jsonPathToArray: String, idFromItemFields: IdFromItemFields)
final case class IdFromItemFields(delimiter: String, fields: Seq[String])

final case class RegexpSpec(
    expression: String,
    field: String = "",
    keepField: Boolean = false,
    timeConversion: Option[TimeConv] = None
) {
  /** Capture-group names in source order (entity/regexp.go:69-88). */
  def groups: Seq[String] = RegexpSpec.collectGroups(expression)
}

object RegexpSpec {
  def collectGroups(exp: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < exp.length) {
      if (exp.charAt(i) == '<') {
        val close = exp.indexOf('>', i + 1)
        if (close < 0) return out.result()
        out += exp.substring(i + 1, close)
        i = close
      }
      i += 1
    }
    out.result()
  }
}

final case class TimeConv(field: String, inputFormat: String, outputFormat: String = "")

final case class SpecValidationException(msg: String) extends RuntimeException(msg)

/** JSON → StreamSpec parser + validator, mirroring NewSpec
  * (entity/spec.go:54-72): structural validation, defaulting
  * (EnsureValidDefaults), and regexp validation.
  */
object StreamSpec {
  private val mapper = new ObjectMapper()

  def parse(json: String): Either[SpecValidationException, StreamSpec] = {
    if (json == null || json.isEmpty)
      return Left(SpecValidationException("no spec data provided"))
    val root =
      try mapper.readTree(json)
      catch { case e: Exception => return Left(SpecValidationException(s"invalid spec JSON: ${e.getMessage}")) }
    try Right(fromNode(root))
    catch {
      case e: SpecValidationException => Left(e)
      case e: IllegalArgumentException => Left(SpecValidationException(e.getMessage))
    }
  }

  /** Parse or throw — for call sites that already validated. */
  def parseUnsafe(json: String): StreamSpec =
    parse(json).fold(e => throw e, identity)

  // ------------------------------------------------------------ internals

  private def fail(msg: String): Nothing = throw SpecValidationException(msg)

  private def reqStr(n: JsonNode, field: String): String = {
    val v = n.get(field)
    if (v == null || !v.isTextual || v.asText.isEmpty) fail(s"required string field missing or empty: $field")
    v.asText
  }

  private def optStr(n: JsonNode, field: String, default: String = ""): String = {
    val v = n.get(field)
    if (v == null || v.isNull) default else v.asText(default)
  }

  private def optInt(n: JsonNode, field: String, default: Int): Int = {
    val v = n.get(field)
    if (v == null || v.isNull) default else v.asInt(default)
  }

  private def optBool(n: JsonNode, field: String, default: Boolean): Boolean = {
    val v = n.get(field)
    if (v == null || v.isNull) default else v.asBoolean(default)
  }

  private def arr(n: JsonNode, field: String): Seq[JsonNode] = {
    val v = n.get(field)
    if (v == null || v.isNull) Nil
    else if (!v.isArray) fail(s"field $field must be an array")
    else v.elements().asScala.toSeq
  }

  private def checkAllowed(n: JsonNode, ctx: String, allowed: Set[String]): Unit = {
    n.fieldNames().asScala.foreach { f =>
      if (!allowed.contains(f)) fail(s"unknown property '$f' in $ctx")
    }
  }

  private def fromNode(root: JsonNode): StreamSpec = {
    if (!root.isObject) fail("spec must be a JSON object")
    checkAllowed(root, "spec", Set("namespace", "streamIdSuffix", "description", "version",
      "disabled", "ops", "opsPerEnv", "source", "transform", "sink"))

    val srcNode = root.get("source")
    if (srcNode == null) fail("required field missing: source")
    val sinkNode = root.get("sink")
    if (sinkNode == null) fail("required field missing: sink")
    val version = optInt(root, "version", 0)
    if (version < 1) fail("version must be >= 1")

    val transform = Option(root.get("transform")).map(parseTransform).getOrElse(TransformSpec())
    transform.regexp.foreach(validateRegexp)

    StreamSpec(
      namespace = reqStr(root, "namespace"),
      streamIdSuffix = reqStr(root, "streamIdSuffix"),
      description = optStr(root, "description"),
      version = version,
      disabled = optBool(root, "disabled", default = false),
      ops = Option(root.get("ops")).map(parseOps).getOrElse(Ops()),
      opsPerEnv = Option(root.get("opsPerEnv")).map { n =>
        n.properties().asScala.map(e => e.getKey -> parseOps(e.getValue)).toMap
      }.getOrElse(Map.empty),
      source = SourceSpec(reqStr(srcNode, "type"), parseEntityConfig(srcNode)),
      transform = transform,
      sink = SinkSpec(reqStr(sinkNode, "type"), parseEntityConfig(sinkNode))
    )
  }

  private def parseEntityConfig(n: JsonNode): EntityConfig = {
    Option(n.get("config")).map { c =>
      EntityConfig(
        properties = arr(c, "properties")
          .map(p => optStr(p, "key") -> optStr(p, "value")).toMap,
        customConfig = Option(c.get("customConfig"))
      )
    }.getOrElse(EntityConfig())
  }

  /** Defaults per Ops.EnsureValidDefaults (entity/spec.go:172-196). */
  private def parseOps(n: JsonNode): Ops = {
    val houe = optStr(n, "handlingOfUnretryableEvents", Houe.Default) match {
      case "" => Houe.Default
      case h if Houe.all.contains(h) => h
      case h => fail(s"invalid handlingOfUnretryableEvents: $h")
    }
    Ops(
      streamsPerPod = math.max(1, optInt(n, "streamsPerPod", 1)),
      disabled = Option(n.get("disabled")).filterNot(_.isNull).map(_.asBoolean),
      microBatch = optBool(n, "microBatch", default = false),
      microBatchSize = math.max(1, optInt(n, "microBatchSize", 500)),
      microBatchBytes = math.max(1, optInt(n, "microBatchBytes", 5000000)),
      microBatchTimeoutMs = math.max(1, optInt(n, "microBatchTimeoutMs", 15000)),
      maxEventProcessingRetries = math.max(1, optInt(n, "maxEventProcessingRetries", 5)),
      maxStreamRetryBackoffIntervalSec = math.max(1, optInt(n, "maxStreamRetryBackoffIntervalSec", 300)),
      handlingOfUnretryableEvents = houe,
      logEventData = optBool(n, "logEventData", default = false),
      customProperties = Option(n.get("customProperties")).map { cp =>
        cp.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty)
    )
  }

  private def parseExclude(f: JsonNode): ExcludeEventsWith =
    ExcludeEventsWith(
      key = optStr(f, "key"),
      values = arr(f, "values").map(_.asText),
      valuesNotIn = arr(f, "valuesNotIn").map(_.asText),
      valueIsEmpty = Option(f.get("valueIsEmpty")).filterNot(_.isNull).map(_.asBoolean)
    )

  private def parseTransform(n: JsonNode): TransformSpec = {
    checkAllowed(n, "transform", Set("implId", "excludeEventsWith",
      "excludeEventsWithMultipleConditions", "extractFields", "extractItemsFromArray",
      "regexp", "customConfig"))
    TransformSpec(
      excludeEventsWith = arr(n, "excludeEventsWith").map(parseExclude),
      excludeEventsWithMultipleConditions = arr(n, "excludeEventsWithMultipleConditions")
        .map(g => MultiCondExclude(arr(g, "filters").map(parseExclude))),
      extractFields = arr(n, "extractFields").map { ef =>
        ExtractFields(
          forEventsWith = arr(ef, "forEventsWith").map(f => ForEventsWith(optStr(f, "key"), optStr(f, "value"))),
          excludeEventsWith = arr(ef, "excludeEventsWith").map(parseExclude),
          fields = arr(ef, "fields").map(f => Field(reqStr(f, "id"), optStr(f, "jsonPath"), optStr(f, "type")))
        )
      },
      extractItemsFromArray = arr(n, "extractItemsFromArray").map { ia =>
        val items = Option(ia.get("items")).getOrElse(fail("extractItemsFromArray.items missing"))
        val idf = Option(items.get("idFromItemFields")).getOrElse(fail("idFromItemFields missing"))
        ExtractItemsFromArray(
          id = reqStr(ia, "id"),
          forEventsWith = arr(ia, "forEventsWith").map(f => ForEventsWith(optStr(f, "key"), optStr(f, "value"))),
          items = ArrayItems(
            jsonPathToArray = optStr(items, "jsonPathToArray"),
            idFromItemFields = IdFromItemFields(
              delimiter = optStr(idf, "delimiter"),
              fields = arr(idf, "fields").map(_.asText)
            )
          )
        )
      },
      regexp = Option(n.get("regexp")).map { r =>
        RegexpSpec(
          expression = optStr(r, "expression"),
          field = optStr(r, "field"),
          keepField = optBool(r, "keepField", default = false),
          timeConversion = Option(r.get("timeConversion")).map { tc =>
            TimeConv(optStr(tc, "field"), optStr(tc, "inputFormat"), optStr(tc, "outputFormat"))
          }
        )
      }
    )
  }

  /** Mirrors Regexp.Validate (entity/regexp.go:42-66). */
  private def validateRegexp(r: RegexpSpec): Unit = {
    if (r.expression.isEmpty) fail("no RegExp is specified")
    graft.functions.Re2.unsupported(r.expression).foreach { e =>
      fail(s"error during RegExp compile: error parsing regexp: $e")
    }
    try java.util.regex.Pattern.compile(graft.functions.Re2.toJavaRegex(r.expression))
    catch { case e: Exception => fail(s"error during RegExp compile: ${e.getMessage}") }
    if (r.groups.isEmpty) fail(s"no groupings where found in regular expression ${r.expression}")
    r.timeConversion.foreach { tc =>
      if (tc.field.isEmpty) fail("regexp.timeConversion.field must be set")
      if (tc.inputFormat.isEmpty) fail("regexp.timeConversion.inputFormat must be set")
    }
  }
}
