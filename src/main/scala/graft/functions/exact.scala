package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The integer-exact arithmetic the analytics operators share, written once
  * so every operator and its streaming twin build the same plan and an
  * independent SQL engine replays each output bit for bit: [[div]]
  * truncates toward zero (`/` on longs is IEEE division, wrong beyond
  * 2^53); a share is NULL, not 0, when its denominator is not positive (a
  * site that wants 0 writes `scaled(...).otherwise(lit(0L))`); shares use
  * fixed permille (1000) or micro (10⁶) scales; the integer cosine
  * quantizes `round(x · scale)` to longs, sums an exact long dot and squared
  * norms, then applies one IEEE tail, `floor(1000.0 · dot / (√na · √nb))`,
  * in exactly that operation order.
  */
private[graft] object exact {

  /** Spark's truncating `div` (always BIGINT; DuckDB's `//`). */
  def div(a: Column, b: Column): Column = call_function("div", a, b)

  /** `num · scale div den`, NULL when `den` is not positive. */
  def scaled(num: Column, den: Column, scale: Long): Column =
    when(den > 0, div(num * scale, den))

  /** Permille F-β of permille precision and recall, `b2` = β² (1 for F1,
    * 4 for F2): `(1 + β²)·p·r div (β²·p + r)`, NULL unless both are defined
    * and the denominator is positive. F1 leaves `p` unmultiplied.
    */
  def fBeta(p: Column, r: Column, b2: Long): Column = {
    val wp = if (b2 == 1L) p else p * b2
    when(p.isNotNull && r.isNotNull && (wp + r) > 0, div(p * r * (b2 + 1L), wp + r))
  }

  def quantized(v: Column, scale: Long): Column =
    transform(v, x => round(x * scale).cast("long"))

  def normSq(q: Column): Column = aggregate(q, lit(0L), (a, x) => a + x * x)

  /** Permille cosine of two [[quantized]] vectors and their [[normSq]]s.
    * Unguarded: callers test `na > 0 && nb > 0`. Vectors of different
    * lengths give NULL (`zip_with` pads with nulls).
    */
  def cosPermille(qa: Column, na: Column, qb: Column, nb: Column): Column =
    cosPermille(aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (a, x) => a + x),
      na, nb)

  /** The same cosine over a dot product summed elsewhere (a join-side sum). */
  def cosPermille(dot: Column, na: Column, nb: Column): Column =
    floor(lit(1000.0) * dot / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
      .cast("long")
}
