package graft.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.gjson
import graft.functions.gjson.{CompiledField, GType}
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
  * Scale notes: every stage is a narrow transformation (filter/project) —
  * no shuffle is introduced anywhere in a compiled pipeline, so throughput
  * scales linearly with partitions and the whole pipeline pipelines inside
  * one Spark stage. Predicates and projections each parse the event JSON
  * once per row (see graft.functions.gjson).
  */
object SpecCompiler {

  /** One output branch of a compiled transform. */
  sealed trait Branch {
    def id: String
    /** Router predicate (on top of the spec-level keep filter). */
    def pred: EventPred
    /** Projection of the event column into this branch's schema. */
    def project(event: Column): Column
    def outputColumns: Seq[String]
  }

  final case class FieldsBranch(
      id: String,
      pred: EventPred,
      fields: Seq[CompiledField],
      regexp: Option[CompiledRegexp]
  ) extends Branch {
    def project(event: Column): Column = gjson.extractFields(event, fields)
    def outputColumns: Seq[String] = fields.map(_.id)
  }

  final case class ItemsBranch(
      id: String,
      pred: EventPred,
      spec: ExtractItemsFromArray
  ) extends Branch {
    def project(event: Column): Column =
      struct(gjson.itemsFromArray(event, spec.items.jsonPathToArray,
        spec.items.idFromItemFields.delimiter, spec.items.idFromItemFields.fields).as(spec.id))
    def outputColumns: Seq[String] = Seq(spec.id)
  }

  /** Regexp applied to the whole raw event (no extractFields present). */
  final case class RegexpBranch(id: String, pred: EventPred, regexp: CompiledRegexp) extends Branch {
    def project(event: Column): Column = struct(regexp.payload(event).as("regexppayload"))
    def outputColumns: Seq[String] = Seq("regexppayload")
  }

  final case class CompiledRegexp(spec: RegexpSpec, groups: Seq[String]) {
    def payload(src: Column): Column =
      gjson.regexpPayload(src, spec.expression, groups, spec.timeConversion)
  }

  final case class CompiledPipeline(spec: StreamSpec, keep: EventPred, branches: Seq[Branch]) {

    /** Trivially-true predicates compile to lit(true) — avoids a needless
      * per-row JSON parse (EventPredExpr parses once per evaluation).
      */
    private def predCol(p: EventPred, event: Column): Column = p match {
      case EventPred.True0() => lit(true)
      case _ => gjson.eventPred(event, p)
    }
    def keepCol(event: Column): Column = predCol(keep, event)
    /** keep ∧ branch fused into ONE predicate expression = one JSON parse
      * per row instead of two.
      */
    def routedCol(b: Branch, event: Column): Column =
      predCol(EventPred.and(keep, b.pred), event)

    /** All surviving rows for one branch, projected to the branch schema.
      * Input frame must expose the raw JSON event as `eventCol` (string).
      * Extra columns (key, ts, …) are dropped; use `applyWith` to retain.
      */
    def branchFrame(df: DataFrame, b: Branch, eventCol: String = "value"): DataFrame =
      applyWith(df, b, eventCol, keepColumns = Nil)

    /** One-evaluation project-then-filter (round-11 optimization): emits
      * each row's columns (plus an optional appended `payload` column)
      * only when every `nonNull` column and the payload are non-null —
      * through ONE explode(filter(array(struct(…)))) generator, so the
      * projection chain evaluates exactly once per row. The plain
      * `.withColumn(…).filter(isNotNull)` formulation lets Catalyst's
      * filter pushdown substitute the deterministic alias into the
      * Filter, re-evaluating the entire extraction chain there and again
      * in the Project above it (measured: the whole
      * to_json∘from_json∘extract∘regexp chain ran 2× per row on the
      * e1_regexp / g7_kafka_mapping gates — the optimization guide's
      * duplicated-expensive-expression pattern, JVM flavor). Output rows
      * and columns are bit-identical to the unfused form; `drop` removes
      * consumed input columns (the regexp keepField contract).
      */
    private def fuseKeep(df: DataFrame, payload: Option[(String, Column)],
        nonNull: Seq[String], drop: Seq[String]): DataFrame = {
      val cols = df.columns.toSeq
      val s = struct(cols.map(c => col(s"`$c`")) ++
        payload.map { case (n, c) => c.as(n) }: _*)
      val checks = nonNull ++ payload.map(_._1)
      val kept = df.select(explode(filter(array(s),
        t => checks.map(t.getField(_).isNotNull).reduce(_ && _))).as("__r"))
      val outCols = (cols ++ payload.map(_._1)).filterNot(drop.contains)
      kept.select(outCols.map(c => col(s"__r.`$c`").as(c)): _*)
    }

    /** Like branchFrame but keeps selected passthrough columns (e.g. Kafka
      * key/timestamp) alongside the projected fields.
      */
    def applyWith(df: DataFrame, b: Branch, eventCol: String, keepColumns: Seq[String]): DataFrame = {
      val ev = col(eventCol)
      lazy val routed = df.filter(routedCol(b, ev))
      b match {
        case fb: FieldsBranch =>
          // filter and projection fuse into ONE generator (flatMap: the
          // row's fields when the keep∧branch predicate passes, nothing
          // otherwise) — one JSON parse per row instead of a predicate
          // parse plus an extraction parse; a trivially-true predicate
          // keeps the plain projection
          val plainSelect = EventPred.and(keep, fb.pred) match {
            case EventPred.True0() => true
            case _ => false
          }
          val projected =
            if (plainSelect)
              df.select(keepColumns.map(col) :+ fb.project(ev).as("__t"): _*)
                .select(keepColumns.map(col) ++ fb.outputColumns.map(c => col(s"__t.`$c`").as(c)): _*)
            else
              df.select(keepColumns.map(col) :+
                gjson.extractFieldsRows(ev, fb.fields,
                  EventPred.and(keep, fb.pred)).as(fb.outputColumns): _*)
          // userAgent unescape failure fails the whole event into the error
          // path (reference: extractFields returns err → Transform errors);
          // those rows are excluded here and surfaced via errorFrame. On
          // the PLAIN-SELECT path the downstream filters are fused with
          // the regexp stage into ONE generator so the extraction chain
          // evaluates once per row (round-11: Catalyst's filter pushdown
          // substitutes a deterministic alias into the Filter,
          // re-evaluating the whole to_json∘extract∘regexp chain there AND
          // in the Project — measured 2× per-row cost on the e1/g7 gates;
          // the guide's duplicated-UDF-evaluation pattern). On the
          // GENERATOR path the projected columns are already concrete
          // attributes (nothing to re-evaluate through the pushed
          // filter), so the plain null-check filters are cheaper than
          // paying a second generator's struct+explode per row.
          val uaCols = fb.fields.filter(_.gtype == gjson.GUserAgent).map(_.id)
          fb.regexp match {
            case Some(re) if fb.outputColumns.contains(re.spec.field) =>
              // Non-matching rows are the reference's error path; they are
              // split off here (see errorFrame) rather than silently kept.
              if (plainSelect)
                fuseKeep(projected,
                  payload = Some("regexppayload" -> re.payload(col(re.spec.field))),
                  nonNull = uaCols,
                  drop = if (re.spec.keepField) Nil else Seq(re.spec.field))
              else {
                val uaKept = uaCols.foldLeft(projected)((d, c) =>
                  d.filter(col(c).isNotNull))
                val withPayload = uaKept.withColumn("regexppayload",
                  re.payload(col(re.spec.field)))
                val dropped =
                  if (re.spec.keepField) withPayload
                  else withPayload.drop(re.spec.field)
                dropped.filter(col("regexppayload").isNotNull)
              }
            case _ if uaCols.nonEmpty =>
              if (plainSelect)
                fuseKeep(projected, payload = None, nonNull = uaCols, drop = Nil)
              else uaCols.foldLeft(projected)((d, c) => d.filter(col(c).isNotNull))
            case _ => projected
          }
        case rb: RegexpBranch =>
          // A routed event the whole-event regexp does NOT match is the
          // reference's error path (applyRegExp panics on non-match →
          // regexpTransform returns err → nothing reaches the sink,
          // transformer.go:191-196 + 229-236): split it off to errorFrame
          // rather than emitting a null-payload row — keeps the sink
          // output, ingestedCol, and the houe policy mutually consistent.
          // The payload projection and its non-null filter fuse into ONE
          // generator (the fuseKeep rationale: alias substitution would
          // otherwise run the whole chain twice per row).
          routed
            .select(keepColumns.map(col) :+
              explode(filter(array(rb.project(ev)),
                t => t.getField("regexppayload").isNotNull)).as("__t"): _*)
            .select(keepColumns.map(col) ++ rb.outputColumns.map(c => col(s"__t.`$c`").as(c)): _*)
        case _ =>
          routed
            .select(keepColumns.map(col) :+ b.project(ev).as("__t"): _*)
            .select(keepColumns.map(col) ++ b.outputColumns.map(c => col(s"__t.`$c`").as(c)): _*)
      }
    }

    /** Rows that matched a regexp-bearing branch but failed the regexp (or
      * its time conversion) — the unretryable-error side-output feeding the
      * houe policy (discard/DLQ/fail, entity/spec.go:20-26).
      */
    def errorFrame(df: DataFrame, eventCol: String = "value"): DataFrame = {
      val ev = col(eventCol)
      val preds = branches.flatMap {
        case fb: FieldsBranch =>
          val regexpErr = fb.regexp
            .filter(re => fb.outputColumns.contains(re.spec.field))
            .map { re =>
              val extracted = gjson.extractFields(ev, fb.fields.filter(_.id == re.spec.field))
                .getField(re.spec.field)
              routedCol(fb, ev) && re.payload(extracted).isNull
            }
          val uaErr = fb.fields.filter(_.gtype == gjson.GUserAgent).map { f =>
            routedCol(fb, ev) &&
              gjson.extractFields(ev, Seq(f)).getField(f.id).isNull
          }
          regexpErr.toSeq ++ uaErr
        case rb: RegexpBranch =>
          Seq(routedCol(rb, ev) && rb.regexp.payload(ev).isNull)
        case _ => Nil
      }
      if (preds.isEmpty) df.limit(0)
      else df.filter(preds.reduce(_ || _))
    }

    /** True where the event yields ≥1 transformed record in some branch —
      * the H1 `BytesIngested` accounting predicate (executor.go:214-237:
      * a non-nil transform output appends to `transformed` and credits the
      * raw event's bytes; excluded / unrouted / transform-error events
      * credit nothing). Per branch this is routed ∧ not-an-error-row, i.e.
      * the exact complement of `errorFrame`'s predicate within the routed
      * set.
      */
    def ingestedCol(ev: Column): Column = {
      val perBranch = branches.map {
        case fb: FieldsBranch =>
          val uaOk = fb.fields.filter(_.gtype == gjson.GUserAgent).map(f =>
            gjson.extractFields(ev, Seq(f)).getField(f.id).isNotNull)
          val reOk = fb.regexp
            .filter(re => fb.outputColumns.contains(re.spec.field))
            .map { re =>
              val extracted = gjson.extractFields(ev, fb.fields.filter(_.id == re.spec.field))
                .getField(re.spec.field)
              re.payload(extracted).isNotNull
            }
          (Seq(routedCol(fb, ev)) ++ uaOk ++ reOk.toSeq).reduce(_ && _)
        case rb: RegexpBranch =>
          routedCol(rb, ev) && rb.regexp.payload(ev).isNotNull
        case b => routedCol(b, ev)
      }
      if (perBranch.isEmpty) lit(false) else perBranch.reduce(_ || _)
    }

    /** Apply the whole transform: one (branchId, DataFrame) per branch. */
    def apply(df: DataFrame, eventCol: String = "value"): Seq[(String, DataFrame)] =
      branches.map(b => b.id -> branchFrame(df, b, eventCol))
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
