package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's scalar-function surface (SURVEY.md §2.8) as composable
  * `Column => Column` builders. All of these stay inside whole-stage codegen
  * (pure built-ins, no UDFs), so they cost nothing extra at 100 TB.
  */
object Cleanse {

  /** F1 — LOWER(TRIM(x)); reference transform-complex-full.py:24,51-52,161. */
  def normLower(c: Column): Column = lower(trim(c))

  /** F2 — UPPER(TRIM(x)); reference transform-complex-full.py:36-37,44-45,96-97. */
  def normUpper(c: Column): Column = upper(trim(c))

  /** F4 — exact money type; reference numeric(12,2) at
    * transform-complex-full.py:63-64. We widen to DECIMAL(18,6).
    *
    * Why scale 6: testdata money values are 2-decimal doubles, and every
    * money expression we build (price × (1±2-decimal rate) × (1±rate)) has at
    * most 6 true decimal digits. At scale 6 the double→decimal cast is
    * therefore EXACT — no rounding occurs — which makes distributed SUMs
    * order-independent AND engine-independent.
    *
    * GENERAL CAST-SCALE RULE (learned twice on this corpus): cast a derived
    * double at the TRUE decimal scale of the quantity it approximates, never
    * finer. Spark rounds the exact binary expansion HALF_UP while DuckDB
    * rounds the shortest decimal representation HALF_EVEN; the two agree iff
    * the double sits far (≫ rounding half-grid) from a scale boundary, which
    * holds exactly when the scale matches the value's true decimal grid —
    * the FP error (ulps of arithmetic) is then tiny vs half a grid step.
    * Observed failures: scale 4 for 6-decimal money products (q01/q04) and
    * scale 8 for 4-decimal squared prices (q53).
    */
  val MoneyType: DecimalType = DecimalType(18, 6)
  def money(c: Column): Column = c.cast(MoneyType)

  /** F5/F6 — COALESCE / NULLIF(x,0); reference transform-complex-full.py:52,71. */
  def nullIfZero(c: Column): Column = nullif(c, lit(0))

  /** F7 — EXTRACT(EPOCH FROM (a-b))/86400.0 as fractional days; reference
    * transform-complex-full.py:169,175,182. Microsecond-exact: difference in
    * long micros, one double division, so DuckDB's
    * (epoch_us(a)-epoch_us(b))/86400000000.0 reproduces identical bits. */
  def fracDays(a: Column, b: Column): Column =
    (unix_micros(a.cast(TimestampType)) - unix_micros(b.cast(TimestampType))) / lit(8.64e10)

  /** J7/F11 — dictionary lookup with NULL on miss (pandas `.map` semantics;
    * reference create_dimensions.py:54-63). `element_at` on a map literal
    * yields NULL for absent keys, matching exactly. */
  def mapLookup(dict: Map[String, String], key: Column): Column =
    element_at(typedLit(dict), key)

  /** Exact-sum-of-doubles helper: per-row IEEE arithmetic (deterministic and
    * engine-identical) → exact decimal cast → order-independent SUM. Callers
    * report the result back as double via `moneyReport`.
    *
    * Value, type (DECIMAL(28,6)) and overflow error are `sum(money(x))`'s;
    * `expressions.ExactSum` computes them on two 64-bit limbs with one
    * allocation-free `long` per row, where Spark's `sum` builds a
    * `BigDecimal` for the cast and for every add. One `long` (Spark's own
    * `DecimalAggregates` trick) would hold only 9.2e12 money at scale 6. */
  def moneySum(perRow: Column): Column = graft.expressions.ExactSum.of(money(perRow))

  /** Final money REPORT: round the exact decimal sum to CENTS, then cast to
    * double. A direct DECIMAL(·,6)→DOUBLE cast is engine-portable only
    * while the unscaled value fits in 2^53 — Spark rounds exactly via
    * BigDecimal, DuckDB divides doubles — which a corpus-scale sum crosses
    * at sf1 (~5e16 unscaled: the q01 sum_charge last-ulp mismatch the
    * first sf1 sweep caught). Rounding to the true reporting grain first
    * drops the unscaled value 10^4 below the bound (exact casts up to
    * ~9e13 money — four more SF decades), and cents IS the scale a money
    * report means. Tie behavior matches by construction: Spark `round` on
    * decimal is HALF_UP, DuckDB `ROUND` on decimal ties away from zero,
    * and both return a scale-2 decimal. Oracle-side lockstep form:
    * `moneySumSql`. */
  def moneyReport(decSum: Column): Column = round(decSum, 2).cast("double")

  /** `moneyReport(moneySum(x))` in SQL, for the per-row expression `exprSql`. */
  def moneySumSql(exprSql: String): String =
    s"CAST(ROUND(SUM(CAST($exprSql AS DECIMAL(18,6))), 2) AS DOUBLE)"

  /** Statically non-null column (optimization r18, guide §2.4 "remove
    * shuffles outright"): wraps a key that is non-null BY CONSTRUCTION
    * (e.g. a parquet fact key) in catalyst's `AssertNotNull`, making the
    * attribute non-nullable in the plan. Why this matters for plan shape:
    * when the SAME subtree feeds several joins/aggregates, each consumer
    * branch infers its own `isnotnull(...)` constraint filters from its
    * join keys and pushes them into ITS copy of the subtree — the copies
    * stop being canonically identical, so AQE's exchange reuse never fires
    * and the shared relation (and its scan) is recomputed once per
    * consumer (measured on q68: the pairs-distinct exchange materialized
    * three times, three full lineitem scans). A non-nullable key yields no
    * inferred filters, the branches stay identical, and the exchange
    * materializes once. Results are unchanged on null-free keys; a NULL
    * (data-contract violation — the degree/count semantics would silently
    * diverge between consumers anyway) fails loudly instead. */
  def notNull(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
      Bridge.expression(c)))
  }
}
