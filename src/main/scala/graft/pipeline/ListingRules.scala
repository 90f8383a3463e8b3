package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.ColumnLib._

/** The reference's listing business-rule vocabulary
  * (mls_listings_transform.py:132-417, ~65 derived columns) as composable
  * `Column` rules. Each function is one rule *pattern* with the exact
  * semantics of its cited reference site; the full 133-column transform is
  * these patterns applied per field, driven by `MlsValidate`/`ColumnLib`
  * projection machinery (`_x`-replacement, final schema projection).
  *
  * Every rule is a pure Column expression — whole-stage codegen'd, no UDFs.
  * Nondeterministic inputs (current date) are injectable for golden tests.
  */
object ListingRules {

  /** String→date with invalid-year guard: years before `minYear` are
    * nulled (transform.py:146-151). `try_cast` preserves the reference's
    * pre-ANSI semantics (malformed → null) under Spark 4's default ANSI
    * mode, which would otherwise throw. */
  def sanitizedDate(c: Column, minYear: Int = 1900): Column = {
    val d = c.try_cast(DateType)
    when(year(d) < minYear, lit(null).cast(DateType)).otherwise(d)
  }

  /** Future-dated close guard: closed_date must be ≤ asOf + graceDays or it
    * is nulled (transform.py:290: `closed_date <= current_date + 180`).
    * `asOf` injectable for deterministic tests. */
  def closedDateGuard(c: Column, asOf: Column = current_date(),
                      graceDays: Int = 180): Column =
    when(c.cast(DateType) <= date_add(asOf, graceDays), c.cast(DateType))

  /** Lot size unit reconciliation (transform.py:193-202): given acres
    * and/or square feet, fill whichever is missing via *43560 with
    * DecimalType(16,4) casts and round placement matching the reference. */
  def lotSizeAcres(acres: Column, sqft: Column): Column =
    coalesce(
      acres.cast(DecimalType(16, 4)),
      round(sqft.cast(DecimalType(16, 4)) / 43560, 4).cast(DecimalType(16, 4)))

  def lotSizeSqft(acres: Column, sqft: Column): Column =
    coalesce(
      sqft.cast(DecimalType(16, 4)),
      round(acres.cast(DecimalType(16, 4)) * 43560, 4).cast(DecimalType(16, 4)))

  /** Categorical decode via contains-chain, first match wins — the
    * water_source pattern (transform.py:207-219: nested when/otherwise up
    * to 11 deep over `instr > 0` tests). */
  def decodeByContains(c: Column, mapping: Seq[(Seq[String], String)],
                       default: Column = lit(null).cast(StringType)): Column = {
    val u = upper(coalesce(c, lit("")))
    mapping.foldRight(default) { case ((needles, result), acc) =>
      when(containsAny(u, needles.map(_.toUpperCase)), result).otherwise(acc)
    }
  }

  /** Unit-number extraction from a street address:
    * `regexp_extract(s, '(.*)#(.*)', 2)` (transform.py:158). */
  def unitFromAddress(c: Column): Column =
    changeBlankToNull(trim(regexp_extract(c, "(.*)#(.*)", 2)))

  /** Street-address normalization: squeeze runs of spaces, trim, blank→null
    * (transform.py:313-314 squeeze trick + :36-37). */
  def normalizedAddress(c: Column): Column =
    changeBlankToNull(squeezeSpaces(trim(c)))

  /** APN/phone-style identifier cleanup: strip separators, keep digits
    * (transform.py:39-47,186). */
  def cleanedApn(c: Column): Column =
    changeBlankToNull(regexp_replace(c, "[^0-9A-Za-z]", ""))

  /** Price-per-area with decimal semantics (DecimalType(16,4), round 4). */
  def pricePerSqft(price: Column, sqft: Column): Column =
    when(sqft.cast(DecimalType(16, 4)) > 0,
      round(price.cast(DecimalType(16, 4)) / sqft.cast(DecimalType(16, 4)), 4)
        .cast(DecimalType(16, 4)))

  /** Year sanity for year_built-style ShortType fields: outside
    * [1800, asOfYear+1] → null (transform.py:245-246 between guard). */
  def sanitizedYear(c: Column, asOfYear: Column = year(current_date())): Column = {
    val y = c.cast(IntegerType)
    when(y.between(1800, asOfYear + 1), y.cast(ShortType))
  }

  /** State normalization against a two-form dim (abbrev OR full name) —
    * the J2 disjunctive join's scalar companion: prefer the abbrev as-is
    * when it is already two letters, else leave for the dim join. */
  def stateAbbrevCandidate(c: Column): Column = {
    val t = upper(trim(c))
    when(regexpLike(t, "[A-Z]{2}"), t)
  }

  /** Typed null placeholder columns (transform.py:325-357: 28 columns of
    * `lit(None).cast(T)`). */
  def placeholder(dt: DataType): Column = lit(null).cast(dt)

  /** The reference's example water_source decode table (transform.py:207-219),
    * reproduced for tests and as decodeByContains's canonical instance. */
  val waterSourceDecode: Seq[(Seq[String], String)] = Seq(
    Seq("WELL") -> "Well",
    Seq("CITY", "PUBLIC", "MUNICIPAL") -> "Public",
    Seq("CISTERN", "HAULED") -> "Cistern",
    Seq("NONE", "NO WATER") -> "None")
}
