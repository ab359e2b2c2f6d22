package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reusable column expressions re-expressing the reference's scalar logic
  * (SURVEY §2.8 F1–F16). Everything here is built from
  * `org.apache.spark.sql.functions` so it stays inside whole-stage codegen —
  * no UDFs in the hot path.
  */
object ColumnFns {

  /** F1 — quarter bucket. The reference buckets an integer day axis
    * (`Website/market/dunnhumby/views.py:1946-1951`); on a date axis the
    * same CASE chain keys off the month. */
  def quarterOfMonth(month: Column): Column =
    when(month.between(1, 3), "Q1")
      .when(month.between(4, 6), "Q2")
      .when(month.between(7, 9), "Q3")
      .otherwise("Q4")

  /** F2 — season bucket (`views.py:2394-2401`). */
  def seasonOfMonth(month: Column): Column =
    when(month.isin(12, 1, 2), "Winter")
      .when(month.isin(3, 4, 5), "Spring")
      .when(month.isin(6, 7, 8), "Summer")
      .otherwise("Fall")

  /** F4 — weekend flag from an integer day axis (`ml_models.py:387-388`). */
  def isWeekend(day: Column): Column = (day % 7) >= 5

  /** F6 — label normalization (`customers/views.py:37-47`): lowercase,
    * non-alphanumerics to space, collapse runs, trim. */
  def normalizeLabel(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9]+", " "), " +", " "))

  /** F7 — HHMM clock formatting 1631.00 → "16:31"
    * (`customers/templatetags/custom_filters.py:7-13`). */
  def formatHhmm(transTime: Column): Column = {
    val s = lpad(cast("int", transTime).cast("string"), 4, "0")
    concat_ws(":", substring(s, 1, 2), substring(s, 3, 2))
  }
  private def cast(t: String, c: Column): Column = c.cast(t)

  /** F9 — percent change with zero-guard (`views.py:726-729`). */
  def pctChange(recent: Column, prev: Column): Column =
    when(prev =!= 0, (recent - prev) / prev * 100).otherwise(lit(0.0))

  /** F14 / P7 — four-band risk labeling from a probability
    * (`views.py:1492-1503`, `customers/views.py:264-276`). */
  def riskBand(p: Column): Column =
    when(p <= 0.25, "Low")
      .when(p <= 0.5, "Medium")
      .when(p <= 0.75, "High")
      .otherwise("Critical")

  /** Canonical money sum: cast to Decimal(18,2) BEFORE summing (exact,
    * order-independent — parallel partial aggregation cannot perturb it),
    * then cast the exact decimal result back to double. This is how the
    * reference gets exact sums (SQL Decimal(10,2)) before floating at the
    * analysis boundary (`analytics.py:216`, SURVEY §7.5#2), and it makes
    * the sum bit-identical across engines regardless of row order —
    * double-summation would be partitioning-dependent. */
  def moneySum(c: Column): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")

  /** Safe ratio with divide-by-zero guard returning 0
    * (`analytics.py:312` avg_basket_value). */
  def safeDiv(num: Column, den: Column): Column =
    when(den =!= 0, num / den).otherwise(lit(0.0))

  /** Cross-engine-stable half-up rounding: `floor(x·10ⁿ + 0.5)/10ⁿ`.
    * Spark's `round()` rounds the double's SHORTEST DECIMAL REPRESENTATION
    * (`BigDecimal.valueOf`), so a binary value just below a midpoint whose
    * shortest repr lands exactly ON the midpoint rounds UP in Spark but
    * DOWN in engines that round the binary value (DuckDB) — an observed
    * 1-in-~10⁵ mismatch. This formula is the same IEEE multiply/add/floor
    * on both sides, so results are bit-identical everywhere. (Negatives
    * round half-toward-+∞ — consistent across engines, which is what the
    * oracle gate needs.) */
  def stableRound(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale.toDouble)
    floor(c * f + 0.5) / f
  }
}
