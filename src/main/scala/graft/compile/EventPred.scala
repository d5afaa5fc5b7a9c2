package graft.compile

import graft.json.Js
import graft.path.GJsonPath
import graft.path.GJsonPath.ParsedPath
import graft.spec.{ExcludeEventsWith, ForEventsWith, MultiCondExclude}

/** Compiled event predicate — the filter algebra of the transform spec
  * (semantics from /root/reference/entity/transform/transformer.go:86-162
  * and :270-300). Paths are parsed once at spec-compile time; evaluation is
  * a pure function over a parsed JSON document, shared by the Catalyst
  * predicate expression and by unit tests.
  */
sealed trait EventPred {
  /** Evaluate against a parsed event (None = unparseable document, in which
    * case every field lookup behaves as missing, exactly like gjson).
    */
  def eval(root: Option[Js]): Boolean
}

object EventPred {

  /** Field value as the filters see it: missing field → ""
    * (transformer.go:90-96).
    */
  private def valueOf(root: Option[Js], path: ParsedPath): String =
    root.flatMap(GJsonPath.eval(_, path)).map(GJsonPath.stringOf).getOrElse("")

  private def exists(root: Option[Js], path: ParsedPath): Boolean =
    root.exists(GJsonPath.eval(_, path).isDefined)

  final case class True0() extends EventPred { def eval(root: Option[Js]) = true }

  /** One ExcludeEventsWith filter object: fires (=excludes) when
    * valueIsEmpty matches, or the value is blacklisted, or — whitelist mode
    * — the value is not in valuesNotIn (transformer.go:86-149).
    */
  final case class ExcludeFilter(
      path: ParsedPath,
      values: Seq[String],
      valuesNotIn: Seq[String],
      valueIsEmpty: Boolean
  ) extends EventPred {
    private val blackSet = values.toSet
    private val whiteSet = valuesNotIn.toSet
    def eval(root: Option[Js]): Boolean = {
      val v = valueOf(root, path)
      if (valueIsEmpty && v.isEmpty) true
      else if (values.nonEmpty) blackSet.contains(v)
      else if (valuesNotIn.nonEmpty) !whiteSet.contains(v)
      else false
    }
  }

  /** OR over filters (top-level excludeEventsWith list). */
  final case class AnyOf(ps: Seq[EventPred]) extends EventPred {
    def eval(root: Option[Js]): Boolean = ps.exists(_.eval(root))
  }

  /** AND over filters (one excludeEventsWithMultipleConditions group). */
  final case class AllOf(ps: Seq[EventPred]) extends EventPred {
    def eval(root: Option[Js]): Boolean = ps.forall(_.eval(root))
  }

  final case class Not(p: EventPred) extends EventPred {
    def eval(root: Option[Js]): Boolean = !p.eval(root)
  }

  /** One forEventsWith condition: field must exist and its string form must
    * equal `value` (transformer.go:281-291; string-typed compare per
    * entity/spec.go:326-334 — JSON number 3 matches "3").
    */
  final case class KeyEquals(path: ParsedPath, value: String) extends EventPred {
    def eval(root: Option[Js]): Boolean =
      exists(root, path) && valueOf(root, path) == value
  }

  // ----------------------------------------------------------- builders

  private def compileExclude(f: ExcludeEventsWith): EventPred =
    ExcludeFilter(GJsonPath.parse(f.key), f.values, f.valuesNotIn, f.valueIsEmpty.getOrElse(false))

  /** `shouldExclude` over a filter list (OR). */
  def excludeAny(filters: Seq[ExcludeEventsWith]): EventPred =
    AnyOf(filters.map(compileExclude))

  /** Spec-level exclusion: excludeEventsWith (OR) plus multi-condition
    * groups (OR of ANDs) — transformer.go:51-63.
    */
  def specExclusion(single: Seq[ExcludeEventsWith], multi: Seq[MultiCondExclude]): EventPred =
    AnyOf(
      (if (single.nonEmpty) Seq(excludeAny(single)) else Nil) ++
        multi.map(g => AllOf(g.filters.map(compileExclude)))
    )

  /** Branch applicability (`applicableEvent`, transformer.go:272-300):
    * AND of forEventsWith equalities (empty = match all), then the branch's
    * own excludeEventsWith blacklist.
    *
    * Note: the reference's loop makes the *last* forEventsWith condition
    * decisive; its docs and every shipped spec intend AND. We implement the
    * documented AND, identical on all conforming specs.
    */
  def branchPred(forEventsWith: Seq[ForEventsWith], exclude: Seq[ExcludeEventsWith]): EventPred = {
    val fw: EventPred =
      if (forEventsWith.isEmpty) True0()
      else AllOf(forEventsWith.map(f => KeyEquals(GJsonPath.parse(f.key), f.value)))
    if (exclude.isEmpty) fw
    else AllOf(Seq(fw, Not(excludeAny(exclude))))
  }

  /** Events the whole spec keeps: NOT excluded. */
  def keepPred(single: Seq[ExcludeEventsWith], multi: Seq[MultiCondExclude]): EventPred =
    if (single.isEmpty && multi.isEmpty) True0()
    else Not(specExclusion(single, multi))
}
