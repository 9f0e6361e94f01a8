package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector kernels over `ArrayType(FloatType)` columns — the engine's
  * embedding representation (SURVEY.md §1.1, qdrant_io_manager.py:31-34).
  * All math is done in DOUBLE via codegen'd higher-order functions; no
  * UDFs, so whole-stage codegen stays intact across the similarity join.
  */
object Vectors {

  /** Let-binding for column expressions: evaluate `value` ONCE per row
    * and hand it to `body` as a shared reference. Catalyst inlines
    * projected subexpressions into every use site (no CSE through
    * lambda captures), so any value referenced more than once — or
    * referenced inside a HOF lambda, where it would re-evaluate per
    * element — must be pinned this way.
    *
    * The single-element-transform spelling below is what the ANALYZER
    * sees (lambda-binding is the one pre-analysis construct that can
    * carry a let); it is CodegenFallback, so left as-is every bound
    * kernel body would run interpreted. The injected optimizer rule
    * [[graft.expressions.RewriteBoundLambda]] hoists the resolved
    * pattern directly: `value` becomes an alias in a projection
    * inserted below the consuming operator, and the lambda variable
    * becomes that attribute — single evaluation AND whole-stage codegen
    * (guide §4 / PlanAudit evidence, round 22). The rule's scaladoc
    * lists the sites it leaves interpreted, and the one case the
    * optimizer re-inlines: a value referenced once, inside a lambda.
    */
  def bound(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Column = org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def expr(c: Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  /** Element-wise cast to double (floats promote exactly). A direct
    * array cast, NOT `transform(v, _.cast("double"))`: Cast is
    * codegen'd element-wise over arrays, while ArrayTransform is
    * CodegenFallback (round-22 PlanAudit) — identical values and null
    * behavior either way.
    */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product in double precision (M5 hot path, SURVEY.md §2.11) —
    * native codegen'd expression; same summation order as the HOF
    * formulation, so results are bit-identical.
    */
  def dot(a: Column, b: Column): Column =
    native(graft.expressions.DotProduct(expr(a), expr(b)))

  /** HOF dot product (kept as the independent cross-check the native
    * expression is tested against).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity (Qdrant collection metric, qdrant_io_manager.py:33).
    * NULL when either vector has zero norm. Native codegen'd single-pass
    * loop — the hot inner expression of every similarity join.
    */
  def cosine(a: Column, b: Column): Column =
    native(graft.expressions.CosineSimilarity(expr(a), expr(b)))

  /** HOF cosine (cross-check twin of [[cosine]]). */
  def cosineHof(a: Column, b: Column): Column = {
    val d  = dotHof(a, b)
    val na = sqrt(dotHof(a, a))
    val nb = sqrt(dotHof(b, b))
    when(na > 0.0 && nb > 0.0, d / (na * nb))
  }

  /** L2-normalize (prep for LSH / banded ANN where dot == cosine).
    * Both the vector and its norm are bound: the norm would otherwise
    * be inlined into the per-element division lambda and re-computed
    * per component — O(dim²) per row.
    */
  def l2Normalize(v: Column): Column =
    bound(toDouble(v)) { dv =>
      bound(sqrt(dot(dv, dv))) { n =>
        when(n > 0.0, transform(dv, x => x / n))
      }
    }

  /** Element-wise sum of two equal-length vectors. */
  def add(a: Column, b: Column): Column =
    zip_with(toDouble(a), toDouble(b), (x, y) => x + y)

  /** True when the vector is non-degenerate: expected size and at least
    * one non-zero component (embedded_articles.py:146-166 guards, F13).
    */
  def isValid(v: Column, dim: Int): Column =
    size(v) === dim && exists(v, x => x =!= 0.0f)

  /** All-zero vector literal of the given dimension. */
  def zeros(dim: Int): Column =
    transform(sequence(lit(1), lit(dim)), _ => lit(0.0))
}
