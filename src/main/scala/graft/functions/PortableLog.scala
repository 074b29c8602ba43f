package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A logarithm both engines can compute BIT-IDENTICALLY.
  *
  * `ln` is not reproducible across the oracle boundary: Java's `Math.log`
  * and DuckDB's libm may disagree in the last ulp, and any quantizing
  * `floor` downstream amplifies an ulp into an off-by-one. IEEE-754,
  * however, specifies +, −, ×, ÷ and sqrt EXACTLY (correctly rounded), so
  * a fixed dag built only from those ops yields the same double on every
  * conforming engine. plog is such a dag:
  *
  *   y = x^(1/2^16)  (16 nested square roots)
  *   z = (y − 1)/(y + 1)
  *   plog(x) = 2·2^16 · (z + z³/3 + z⁵/5)   (atanh series, factored as
  *             131072 · z·(1 + z²/3 + z²·z²/5))
  *
  * At depth 16, |z| ≤ |ln x|/2^17, so the series truncation is ≤ ~z⁶
  * relative — far below double ulp even at x = 1e-12; accumulated sqrt
  * rounding dominates at ~2⁻³⁷ relative (~1e-8 observed, spec-pinned in
  * DsirSpec). The approximation quality is fidelity headroom only:
  * determinism comes from every engine running the SAME ops.
  *
  * Three renderings, one definition: [[plog]] (driver-side Scala),
  * [[plogCol]] (Catalyst column — Spark's double ops are the same IEEE
  * primitives), and the DuckDB SQL fragments ([[sqrtNestSql]] /
  * [[zSql]] / [[seriesSql]], staged by the caller's CTEs). Any caller
  * pairing them across engines gets hash-identical quantized results.
  */
object PortableLog {

  val SqrtDepth: Int = 16
  private val SeriesScale: Double = 131072.0 // 2 · 2^SqrtDepth

  /** Driver-side rendering. */
  def plog(x: Double): Double = {
    var y = x
    var i = 0
    while (i < SqrtDepth) { y = math.sqrt(y); i += 1 }
    val z = (y - 1.0) / (y + 1.0)
    val z2 = z * z
    SeriesScale * (z * (1.0 + z2 / 3.0 + z2 * z2 / 5.0))
  }

  /** Catalyst rendering — the identical dag as column ops (codegen'd;
    * textual subtree duplication is value-identical and CSE'd).
    */
  def plogCol(x: Column): Column = {
    val y = (1 to SqrtDepth).foldLeft(x)((e, _) => sqrt(e))
    val z = (y - lit(1.0)) / (y + lit(1.0))
    val z2 = z * z
    lit(SeriesScale) * (z * (lit(1.0) + z2 / lit(3.0) + z2 * z2 / lit(5.0)))
  }

  /** DuckDB fragments; stage y and z as CTE columns: y =
    * sqrtNestSql(x), z = zSql("y"), plog = seriesSql("z").
    */
  def sqrtNestSql(x: String): String =
    (1 to SqrtDepth).foldLeft(x)((e, _) => s"sqrt($e)")

  def zSql(y: String): String = s"(($y) - 1.0e0)/(($y) + 1.0e0)"

  def seriesSql(z: String): String =
    s"131072.0e0*(($z)*(1.0e0 + ($z)*($z)/3.0e0 + (($z)*($z))*(($z)*($z))/5.0e0))"

  // ---- portable exponential (same doctrine, inverse trick) ------------

  /** pexp: e^u as a fixed dag — scale u down by 2^16 (exact: division by
    * a power of two), a 5-term Taylor series with one canonical factoring
    * (v² = v·v, v³ = v²·v, v⁴ = v³·v), then 16 squarings. |v| ≤ 2⁻¹⁶·|u|
    * keeps truncation ≤ ~v⁵/120 — negligible at any |u| the sigmoid ever
    * sees; extreme |u| saturates identically on both engines (IEEE
    * inf/0 semantics are part of the spec). Feeds [[psig]], the portable
    * logistic sigmoid of the quality classifier.
    */
  def pexp(u: Double): Double = {
    val v = u / 65536.0
    val v2 = v * v
    val v3 = v2 * v
    val v4 = v3 * v
    var y = 1.0 + v + v2 / 2.0 + v3 / 6.0 + v4 / 24.0
    var i = 0
    while (i < 16) { y = y * y; i += 1 }
    y
  }

  /** Portable logistic sigmoid: 1/(1 + pexp(−u)); psig(0) = 0.5 exactly. */
  def psig(u: Double): Double = 1.0 / (1.0 + pexp(-u))

  /** Catalyst rendering — a native expression whose eval/codegen CALL
    * [[pexp]] (a pure-column fold would textually nest the 16 squarings
    * into a 2^16-node tree).
    */
  def pexpCol(u: Column): Column =
    graft.functions.expressions.PortableExpExpr(u)

  def psigCol(u: Column): Column = lit(1.0) / (lit(1.0) + pexpCol(-u))

  /** DuckDB rendering of psig as a NESTED-SUBQUERY pyramid. The 16
    * squarings cannot ride lateral column aliases or plain CTE columns:
    * DuckDB expands those by SUBSTITUTION, so e16 = e15·e15 = … becomes a
    * 2^16-node tree and planning alone takes ~30 s per occurrence
    * (measured). Each squaring gets its own subquery projection instead —
    * a real evaluation boundary, same doubles, constant-size plan.
    *
    * Emits a full SELECT producing `keepCols` plus `psig` =
    * 1/(1 + pexp(uExpr)), where `innerSql` is a query exposing keepCols
    * and whatever uExpr references. Callers wanting the sigmoid of margin
    * s pass uExpr = "-(s)".
    */
  def psigSelectSql(innerSql: String, keepCols: String, uExpr: String): String =
    s"SELECT $keepCols, 1.0e0/(1.0e0 + e) AS psig " +
      s"FROM (${pexpSelectSql(innerSql, keepCols, uExpr)}) psF"

  /** The bare exponential half of [[psigSelectSql]] — emits `keepCols`
    * plus `e` = pexp(uExpr), through the same nested-subquery pyramid
    * (the 16 squarings must be real evaluation boundaries, never lateral
    * aliases or plain CTE columns — substitution expands those into a
    * 2^16-node tree). Used directly by the DoReMi weight tilt.
    */
  def pexpSelectSql(innerSql: String, keepCols: String, uExpr: String): String = {
    val v = s"SELECT $keepCols, ($uExpr)/65536.0e0 AS v FROM ($innerSql) pq0"
    val ser = s"SELECT $keepCols, 1.0e0 + v + v2/2.0e0 + v3/6.0e0 + v4/24.0e0 AS e " +
      s"FROM (SELECT $keepCols, v, v*v AS v2, v2*v AS v3, v3*v AS v4 FROM ($v) pq1) pq2"
    (1 to 16).foldLeft(ser)((q, i) =>
      s"SELECT $keepCols, e*e AS e FROM ($q) ps$i")
  }
}
