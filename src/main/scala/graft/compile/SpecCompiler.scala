package graft.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{BooleanType, IntegerType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Re2, gjson}
import graft.functions.gjson.{CompiledField, GType}
import graft.json.Js
import graft.path.GJsonPath
import graft.spec._

/** Compiles a StreamSpec's transform into a reusable DataFrame pipeline.
  *
  * The compiled form is mode-agnostic: the same `DataFrame => DataFrame`
  * stages run in batch (driver correctness harness over parquet) and in
  * Structured Streaming (runtime). The transform's fixed execution order
  * (/root/reference/entity/transform/transformer.go:43-84) becomes:
  *
  *   keep-filter (excludeEventsWith ∪ multi-conditions, B1-B4)
  *     → per-branch router predicate (forEventsWith + branch excludes, B5-B6)
  *     → per-branch projection with spec-typed casts (C1-C4)
  *     → extractItemsFromArray branches (D1)
  *     → regexp payload stage (E1-E2)
  *
  * Event-split (C2) falls out naturally: each matching branch contributes
  * its own DataFrame; one input row can appear in several branches, each
  * with a different schema — exactly the reference's []*Transformed.
  *
  * All of it evaluates in ONE tagged pass ([[CompiledPipeline.tag]],
  * [[ExtractFieldsGen]]): a
  * generator that parses each event once and emits per-branch routed/ok
  * flags and columns; branch outputs, the ingested-bytes predicate and
  * the error side-output are filters over that pass, so a caller that
  * caches it (the runtime, per micro-batch) runs the chain once per event.
  *
  * Scale notes: every stage is a narrow transformation (generate, filter,
  * project) — no shuffle is introduced anywhere in a compiled pipeline, so
  * throughput scales linearly with partitions and the whole pipeline
  * pipelines inside one Spark stage.
  */
object SpecCompiler {

  /** One output branch of a compiled transform: a router predicate and the
    * transform of a routed event into the branch's columns, both evaluated
    * inside the tagged pass ([[ExtractFieldsGen]]).
    */
  sealed trait Branch extends Serializable {
    def id: String
    /** Router predicate (on top of the spec-level keep filter). */
    def pred: EventPred
    /** The branch's output columns. */
    def schema: StructType
    def outputColumns: Seq[String] = schema.fieldNames.toSeq
    /** Whether [[transform]] reads the parsed document (not only the raw text). */
    def readsJson: Boolean = true
    /** The branch's column values for a routed event, or null when the
      * event fails the branch's transform (the unretryable-error path).
      * `raw` is null for a null event.
      */
    def transform(root: Option[Js], raw: UTF8String): Array[Any]
  }

  final case class FieldsBranch(
      id: String,
      pred: EventPred,
      fields: Seq[CompiledField],
      regexp: Option[CompiledRegexp]
  ) extends Branch {
    private val fieldArr = fields.toArray
    private val uaIdx = fields.indices.filter(i => fields(i).gtype == gjson.GUserAgent).toArray
    private val reIdx = regexp.map(re => fields.indexWhere(_.id == re.spec.field)).getOrElse(-1)
    // a regexp consumes its source field unless keepField; the payload is
    // appended as `regexppayload`
    private val outIdx = fields.indices
      .filterNot(i => i == reIdx && !regexp.exists(_.spec.keepField)).toArray
    val schema: StructType = StructType(outIdx.map { i =>
      StructField(fields(i).id, fields(i).gtype.dataType, nullable = fields(i).gtype == gjson.GUserAgent)
    } ++ regexp.map(_ => StructField("regexppayload", StringType)))
    def transform(root: Option[Js], raw: UTF8String): Array[Any] = {
      val event = if (raw == null) UTF8String.EMPTY_UTF8 else raw
      val vals = fieldArr.map(gjson.fieldValue(_, root, event))
      // userAgent unescape failure fails the whole event into the error path
      // (reference: extractFields returns err → Transform errors)
      if (uaIdx.exists(vals(_) == null)) return null
      val payload = regexp.map { re =>
        vals(reIdx) match {
          case null => null
          case bytes: Array[Byte] => re.kernel(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
          case v => re.kernel(v.toString)
        }
      }
      // a regexp non-match is the reference's error path (applyRegExp fails
      // the event, transformer.go:229-243): split off, never a null payload
      if (payload.contains(null)) return null
      outIdx.map(vals(_)) ++ payload
    }
  }

  final case class ItemsBranch(
      id: String,
      pred: EventPred,
      spec: ExtractItemsFromArray
  ) extends Branch {
    private val arrayPath = GJsonPath.parse(spec.items.jsonPathToArray)
    private val idPaths = spec.items.idFromItemFields.fields.map(GJsonPath.parse)
    val schema: StructType = StructType(Seq(
      StructField(spec.id, MapType(StringType, StringType, valueContainsNull = false), nullable = false)))
    def transform(root: Option[Js], raw: UTF8String): Array[Any] =
      Array(gjson.itemsMap(root, arrayPath, spec.items.idFromItemFields.delimiter, idPaths))
  }

  /** Regexp applied to the whole raw event (no extractFields present). A
    * routed event the regexp does NOT match is the reference's error path
    * (applyRegExp panics on non-match → regexpTransform returns err →
    * nothing reaches the sink, transformer.go:191-196 + 229-236).
    */
  final case class RegexpBranch(id: String, pred: EventPred, regexp: CompiledRegexp) extends Branch {
    val schema: StructType = StructType(Seq(StructField("regexppayload", StringType)))
    override def readsJson: Boolean = false
    def transform(root: Option[Js], raw: UTF8String): Array[Any] = {
      val payload = if (raw == null) null else regexp.kernel(raw.toString)
      if (payload == null) null else Array(payload)
    }
  }

  final case class CompiledRegexp(spec: RegexpSpec, groups: Seq[String]) {
    val kernel: gjson.RegexpKernel =
      gjson.RegexpKernel(Re2.toJavaRegex(spec.expression), groups, spec.timeConversion)
  }

  /** The tagged pass: ONE JSON parse per event evaluates the keep filter,
    * every branch's router predicate and every routed branch's transform.
    * Emits exactly one row per input row:
    *   - the event's length in characters (null for a null event);
    *   - the raw event, kept only where a consumer may still need it — rows
    *     the pass did not run on (`active` false) and rows some routed
    *     branch failed to transform; null otherwise;
    *   - per branch: `routed`, `ok` (routed and transformed), then the
    *     branch's columns (set only when ok).
    * A generator rather than a struct projection: filters over its output
    * reference generated attributes, so Catalyst cannot push them below the
    * Generate and re-inline the chain (the duplicated-evaluation pattern
    * PlanSpec and RuntimeSpec guard against).
    */
  case class ExtractFieldsGen(event: Expression, active: Expression, keep: EventPred,
      branches: Seq[Branch])
      extends Expression with Generator with CodegenFallback {
    override def children: Seq[Expression] = Seq(event, active)
    @transient override lazy val elementSchema: StructType = StructType(
      Seq(StructField("len", IntegerType), StructField("raw", StringType)) ++
        branches.zipWithIndex.flatMap { case (b, i) =>
          Seq(StructField(s"routed$i", BooleanType, nullable = false),
            StructField(s"ok$i", BooleanType, nullable = false)) ++
            b.schema.fields.map(f => f.copy(name = s"b${i}_${f.name}", nullable = true))
        })
    @transient private lazy val bs = branches.toArray
    @transient private lazy val width = elementSchema.length
    @transient private lazy val readsJson =
      keep != EventPred.True0() || bs.exists(b => b.readsJson || b.pred != EventPred.True0())
    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val raw = event.eval(input).asInstanceOf[UTF8String]
      val out = new Array[Any](width)
      if (raw != null) out(0) = raw.numChars
      if (active.eval(input) != true) out(1) = raw
      else {
        val root = if (raw == null || !readsJson) None else Js.parse(raw.toString)
        val kept = keep.eval(root)
        var failed = false
        var o = 2
        var i = 0
        while (i < bs.length) {
          val b = bs(i)
          val routed = kept && b.pred.eval(root)
          val row = if (routed) b.transform(root, raw) else null
          out(o) = routed
          out(o + 1) = row != null
          if (row != null) System.arraycopy(row, 0, out, o + 2, row.length)
          else failed ||= routed
          o += 2 + b.schema.length
          i += 1
        }
        if (failed) out(1) = raw
      }
      new GenericInternalRow(out) :: Nil
    }
    // the branch list prints as a summary: plan strings stay short
    override protected def stringArgs: Iterator[Any] =
      Iterator(event, active, s"<${branches.size} branches>")
    override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
      copy(event = newChildren(0), active = newChildren(1))
  }

  final case class CompiledPipeline(spec: StreamSpec, keep: EventPred, branches: Seq[Branch]) {
    import CompiledPipeline._

    /** The tagged pass over `df` for the branches at indices `on`. */
    private def pass(df: DataFrame, on: Seq[Int], eventCol: String, keepColumns: Seq[String],
        active: Column): DataFrame = {
      val names = Seq(Len, eventCol) ++ on.flatMap(i =>
        Seq(routed(i), ok(i)) ++ branches(i).outputColumns.map(out(i, _)))
      df.select(keepColumns.map(c => col(s"`$c`")) :+
        bridge.column(ExtractFieldsGen(bridge.expression(col(eventCol)),
          bridge.expression(active), keep, on.map(branches))).as(names): _*)
    }

    /** ONE evaluation of the whole transform per event: a frame with one
      * row per input row carrying `keepColumns`, the event length (`__len`),
      * the raw event under `eventCol` (only where the pass did not run or
      * some routed branch failed), and per branch its routed/ok flags and
      * output columns. The pass runs only where `active` holds. Every
      * consumer — counters ([[ingested]], [[failed]]), branch outputs
      * ([[rowsOf]]), the error side-output — reads this one frame, so
      * "ingested" and "error" are complements by construction.
      */
    def tag(df: DataFrame, eventCol: String = "value", keepColumns: Seq[String] = Nil,
        active: Column = lit(true)): DataFrame =
      pass(df, branches.indices, eventCol, keepColumns, active)

    /** Branch `i`'s output rows (routed and transformed) of a tagged frame,
      * projected to the branch schema after `keepColumns`.
      */
    def rowsOf(tagged: DataFrame, i: Int, keepColumns: Seq[String] = Nil): DataFrame =
      tagged.filter(emitted(i))
        .select(keepColumns.map(c => col(s"`$c`")) ++
          branches(i).outputColumns.map(c => outputCol(i, c).as(c)): _*)

    /** True on tagged rows that branch `i` emits (routed and transformed):
      * the rows [[rowsOf]] keeps.
      */
    def emitted(i: Int): Column = col(routed(i)) && col(ok(i))

    /** Branch `i`'s output column `c`, read on a tagged frame. */
    def outputCol(i: Int, c: String): Column = col(s"`${out(i, c)}`")

    /** True on tagged rows that yield ≥1 transformed record — the H1
      * `BytesIngested` predicate (executor.go:214-237: a non-nil transform
      * output credits the raw event's bytes; excluded / unrouted /
      * transform-error events credit nothing).
      */
    def ingested: Column = anyBranch(emitted)

    /** True on tagged rows that some routed branch failed to transform
      * (regexp non-match or time conversion, userAgent unescape) — the
      * unretryable-error side-output feeding the houe policy
      * (discard/DLQ/fail, entity/spec.go:20-26).
      */
    def failed: Column = anyBranch(i => col(routed(i)) && !col(ok(i)))

    private def anyBranch(f: Int => Column): Column =
      branches.indices.map(f).reduceOption(_ || _).getOrElse(lit(false))

    /** All surviving rows for one branch, projected to the branch schema.
      * Input frame must expose the raw JSON event as `eventCol` (string).
      * Extra columns (key, ts, …) are dropped; use `applyWith` to retain.
      */
    def branchFrame(df: DataFrame, b: Branch, eventCol: String = "value"): DataFrame =
      applyWith(df, b, eventCol, keepColumns = Nil)

    /** Like branchFrame but keeps selected passthrough columns (e.g. Kafka
      * key/timestamp) alongside the projected fields. The pass covers only
      * this branch.
      */
    def applyWith(df: DataFrame, b: Branch, eventCol: String, keepColumns: Seq[String]): DataFrame = {
      val i = branches.indexOf(b)
      rowsOf(pass(df, Seq(i), eventCol, keepColumns, lit(true)), i, keepColumns)
    }

    /** Input rows that some routed branch failed to transform — [[failed]]
      * over a tagged pass of `df`, with `df`'s columns.
      */
    def errorFrame(df: DataFrame, eventCol: String = "value"): DataFrame =
      tag(df, eventCol, keepColumns = df.columns.toSeq.filterNot(_ == eventCol))
        .filter(failed).select(df.columns.toSeq.map(c => col(s"`$c`")): _*)

    /** Apply the whole transform: one (branchId, DataFrame) per branch. */
    def apply(df: DataFrame, eventCol: String = "value"): Seq[(String, DataFrame)] =
      branches.map(b => b.id -> branchFrame(df, b, eventCol))
  }

  object CompiledPipeline {
    /** Tagged-frame column holding each event's length in characters. */
    val Len = "__len"
    private def routed(i: Int) = s"__routed_$i"
    private def ok(i: Int) = s"__ok_$i"
    private def out(i: Int, c: String) = s"__b${i}_$c"
  }

  def compile(spec: StreamSpec): CompiledPipeline = {
    val t = spec.transform
    val keep = EventPred.keepPred(t.excludeEventsWith, t.excludeEventsWithMultipleConditions)
    val compiledRegexp = t.regexp.map(r => CompiledRegexp(r, r.groups))

    val fieldBranches = t.extractFields.zipWithIndex.map { case (ef, i) =>
      FieldsBranch(
        id = if (t.extractFields.size == 1) "fields" else s"fields_$i",
        pred = EventPred.branchPred(ef.forEventsWith, ef.excludeEventsWith),
        fields = ef.fields.map(compileField),
        regexp = compiledRegexp.filter(re =>
          re.spec.field.nonEmpty && ef.fields.exists(_.id == re.spec.field))
      )
    }

    val itemBranches = t.extractItemsFromArray.map { ia =>
      ItemsBranch(id = ia.id, pred = EventPred.branchPred(ia.forEventsWith, Nil), spec = ia)
    }

    // Regexp with no extracted source field applies to the raw event, but
    // only for events where no other branch produced output (the reference
    // appends it when len(transformed) < 1, transformer.go:196-215) — a
    // per-event condition, compiled as NOT(any branch predicate).
    val regexpBranch = compiledRegexp match {
      case Some(re) if re.spec.field.isEmpty =>
        val others = (fieldBranches ++ itemBranches).map(_.pred)
        val pred: EventPred =
          if (others.isEmpty) EventPred.True0()
          else EventPred.Not(EventPred.AnyOf(others))
        Seq(RegexpBranch("regexp", pred, re))
      case Some(re) if !fieldBranches.exists(_.fields.exists(_.id == re.spec.field)) =>
        // reference errors every event with "wanted field ... was not
        // extracted" — surface the misconfiguration at compile time instead
        throw new IllegalArgumentException(
          s"regexp.field '${re.spec.field}' is not extracted by any branch")
      case _ => Nil
    }

    CompiledPipeline(spec, keep, fieldBranches ++ itemBranches ++ regexpBranch)
  }

  private def compileField(f: Field): CompiledField = {
    val raw = f.jsonPath.isEmpty
    CompiledField(
      id = f.id,
      path = if (raw) None else Some(GJsonPath.parse(f.jsonPath)),
      gtype = GType.of(f.fieldType, raw)
    )
  }
}
