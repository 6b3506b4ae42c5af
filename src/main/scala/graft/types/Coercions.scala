package graft.types

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scalar coercion / formatting operators (SURVEY.md §2.2).
  *
  * Reference behaviors re-expressed as pure `Column` functions — no UDFs, so
  * everything stays inside whole-stage codegen and remains comparable to the
  * DuckDB oracle:
  *  - t1 `safe_float_convert` (tiny_api_v2_cliente.py:52-60)
  *  - t2 two-format dd/MM/yyyy date parse (tiny_api_v2_cliente.py:150-151)
  *  - t3 regex date validation (tiny_api_v2_cliente.py:133-134)
  *  - t4 NULLIF(col,'') (tiny_api_v2_cliente.py:133)
  *  - t5 timestamp formatting (tiny_api_v2_cliente.py:125,167,...)
  *  - t6 timestamp arithmetic (+1s / +1d@midnight / now-Nd)
  *    (tiny_api_v2_cliente.py:113,152,164)
  *  - t7 secret masking (tiny_api_v2_cliente.py:230)
  *  - t8 percent progress (tiny_api_v2_cliente.py:210-211)
  *  - t9 defensive JSON field extraction (tiny_api_v2_cliente.py:261-264)
  */
object Coercions {

  /** t1: locale-tolerant numeric coercion. Comma decimal separator → dot,
    * trim, unparsable/empty/null → default. `translate` + `try_cast` keep
    * the whole expression regex-free (round 2: the regex gate was the
    * hottest scalar in the bench) while staying ANSI-mode-safe — and
    * try_cast's accepted grammar (exponents, inf/nan) matches both the
    * oracle's TRY_CAST and the reference's Python float() more closely
    * than the old `^-?\d+(\.\d+)?$` gate did.
    */
  def coerceBrFloat(c: Column, default: Double = 0.0): Column =
    coalesce(translate(trim(c), ",", ".").try_cast("double"), lit(default))

  /** t2: parse `dd/MM/yyyy HH:mm:ss` falling back to `dd/MM/yyyy`. */
  def parseBrDate(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit("dd/MM/yyyy HH:mm:ss")),
      try_to_timestamp(c, lit("dd/MM/yyyy")))

  /** t3: the reference's `campo ~ '^\d{2}/\d{2}/\d{4}'` validity predicate. */
  def isBrDateLike(c: Column): Column = c.rlike("^\\d{2}/\\d{2}/\\d{4}")

  /** t4: NULLIF(col, '') — empty string to NULL (so MAX etc. skip it). */
  def nullIfEmpty(c: Column): Column = when(c =!= "", c)

  /** t5: format a timestamp the way the reference formats API filter params. */
  def brFormat(c: Column): Column = date_format(c, "dd/MM/yyyy HH:mm:ss")

  /** t6a: exclusive watermark bound — +1 second (ref :113). */
  def plusOneSecond(c: Column): Column = c + expr("INTERVAL 1 SECOND")

  /** t6b: synthetic watermark — next midnight UTC after ts (ref :152). */
  def nextMidnight(c: Column): Column =
    date_trunc("day", c + expr("INTERVAL 1 DAY"))

  /** t6c: safety-window lower bound — ts minus N days (ref :164,180,331). */
  def minusDays(c: Column, days: Int): Column =
    c - expr(s"INTERVAL $days DAYS")

  /** t7: mask a secret for logs: first 5 chars + "..." (ref :230). */
  def maskSecret(c: Column): Column = concat(substring(c, 1, 5), lit("..."))

  /** t8: round(page/total*100, 1) progress percentage (ref :210-211). */
  def pctProgress(page: Column, total: Column): Column =
    detRound(page * lit(100.0) / total, 1)

  /** Deterministic cross-engine rounding: floor(x·10ⁿ + 0.5)/10ⁿ — pure
    * IEEE ops evaluated identically by Spark and DuckDB. Engine `round`
    * implementations DIVERGE on half-boundaries (Spark rounds the exact
    * binary expansion via BigDecimal; DuckDB scales first, and the
    * scaling multiply can land exactly on .5), which breaks hash
    * comparison — found at sf0.1 on x_quality_score. */
  def detRound(c: Column, digits: Int): Column = {
    val k = lit(math.pow(10, digits.toDouble))
    floor(c * k + lit(0.5)) / k
  }

  /** t9: defensive JSON field extraction (string-typed result). */
  def jsonField(c: Column, path: String): Column = get_json_object(c, path)

  // ---- deterministic-output helpers shared by every oracle-checked query ----

  /** Format a timestamp for query output — avoids tz/precision hash skew. */
  def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Format a date for query output. */
  def fmtD(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Order-independent exact money sum: per-row cast to DECIMAL(18,4) (clean
    * 2-dp inputs survive exactly), exact decimal addition (associative, so
    * partition order can't change the result), final cast back to double.
    * This is what makes double-summing hash-comparable against DuckDB.
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Exact decimal revenue term: price * (1 - discount) without double
    * accumulation noise. */
  def revenue(price: Column, discount: Column): Column =
    price.cast(DecimalType(18, 2)) * (lit(1.0) - discount).cast(DecimalType(4, 2))
}
