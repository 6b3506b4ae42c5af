package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.types.Coercions.{detRound, dsum, fmtD}
import graft.util.Tables.t

/** Robust / order statistics over the fixture streams — the
  * interpolation-free formulations that survive a cross-engine hash
  * compare: every quantile-like quantity is an ELEMENT SELECTED BY RANK
  * (row_number over a total order), never an interpolated value, because
  * `percentile_cont`'s (1-f)·a + f·b arithmetic is not specified to the
  * ulp across engines while rank selection is exact by construction.
  */
object StatsOps {

  // ---- EWMA control chart -------------------------------------------------
  // one-step-ahead exponentially weighted forecast over the 40 preceding
  // OBSERVED days (0.7^40 ≈ 6e-7 — the truncation is the normalized
  // finite-window EWMA, not an approximation of the infinite one). The
  // weights are computed ONCE here and embedded in both engines: Spark
  // gets the binary64 via lit(), DuckDB a 17-significant-digit literal
  // (guaranteed round-trip), so both engines multiply by the identical
  // double. Quantized weights (1e9 fixed point) serve as the integer
  // normalizer so the present-lag mask sums order-free.
  private val EwmaLags = 40
  private val EwmaAlpha = 0.7 // decay per observed day
  private def ewmaW(i: Int): Double = math.pow(EwmaAlpha, i)
  private def ewmaWLit(i: Int): String =
    graft.util.Num.lit17(ewmaW(i))
  private def ewmaQW(i: Int): Long =
    math.floor(ewmaW(i) * 1e9 + 0.5).toLong

  // Brown double-smoothing ladder (x_holt_forecast): the second
  // smoothing's expansion weights ∝ m·β^m — same fixed-point treatment,
  // computed once and embedded identically in both engines.
  private def brownW(i: Int): Double = i * math.pow(EwmaAlpha, i)
  private def brownWLit(i: Int): String =
    graft.util.Num.lit17(brownW(i))
  private def brownQW(i: Int): Long =
    math.floor(brownW(i) * 1e9 + 0.5).toLong

  /** Lag/weight ladder over lags 1..40: the numerator is the weighted
    * sum of the present lags `lg(i)`, each term 1e9-quantized before the
    * row-local sum; [[ladderDen]] is the present-lag sum of the quantized
    * weights, its normalizer. Every one-step ladder forecast (EWMA,
    * Brown, damped trend, SES) is `ladderNum / ladderDen`; the SQL twins
    * are [[brownNumSql]]/[[brownDenSql]]. */
  private[graft] def ladderNum(lg: Int => Column, w: Int => Double): Column =
    (1 to EwmaLags).map(i =>
      when(lg(i).isNotNull,
        floor(lg(i) * lit(w(i)) * 1e9 + 0.5).cast("long"))
        .otherwise(0L)).reduce(_ + _)
  private[graft] def ladderDen(lg: Int => Column, qw: Int => Long): Column =
    (1 to EwmaLags).map(i =>
      when(lg(i).isNotNull, lit(qw(i))).otherwise(0L)).reduce(_ + _)
  private def brownNumSql(e: String, wLit: Int => String): String =
    (1 to EwmaLags).map(i =>
      s"""CASE WHEN lag($e, $i) OVER win IS NOT NULL
          THEN CAST(floor(lag($e, $i) OVER win
               * CAST(${wLit(i)} AS DOUBLE) * 1e9 + 0.5) AS BIGINT)
          ELSE 0 END""").mkString(" + ")
  private def brownDenSql(e: String, qw: Int => Long): String =
    (1 to EwmaLags).map(i =>
      s"""CASE WHEN lag($e, $i) OVER win IS NOT NULL
          THEN CAST(${qw(i)} AS BIGINT) ELSE CAST(0 AS BIGINT)
          END""").mkString(" + ")

  // ---- Gardner–McKenzie damped-trend ladder (x_damped_trend_forecast) ----
  // The φ-damped state recursion [ℓ_t, b_t] = G·[ℓ_{t−1}, b_{t−1}] + h·y_t
  // (smoothing form: ℓ_t = αy_t + (1−α)(ℓ_{t−1} + φb_{t−1}),
  // b_t = β*(ℓ_t − ℓ_{t−1}) + (1−β*)φb_{t−1}) gives the one-step
  // forecast F_t = [1, φ]·x_{t−1}, i.e. weight w_i = [1, φ]·G^(i−1)·h on
  // lag i — computed ONCE here by iterating v ← G·v (no pow at query
  // time, the brownW discipline). G's eigenvalues are complex at these
  // parameters, so the weights are damped-oscillatory and dip mildly
  // NEGATIVE near lag 14 (min −0.00883) — irrelevant to the ladder,
  // they are literals either way; w₄₀ ≈ 3.3e−5 and Σw₄₀ = 0.999859, and
  // the normalized truncated-40 ladder reproduces the exact recursion's
  // one-step forecast to ~3e−7 relative (pinned by the spec's replay).
  private val DampAlpha = 0.3
  private val DampBetaS = 0.1 // β* (trend smoothing on the LEVEL delta)
  private val DampPhi = 0.9
  private val dampedWArr: Array[Double] = {
    val out = Array.ofDim[Double](EwmaLags + 1)
    var v0 = DampAlpha // h = [α, αβ*]
    var v1 = DampAlpha * DampBetaS
    for (i <- 1 to EwmaLags) {
      out(i) = v0 + DampPhi * v1
      val n0 = (1.0 - DampAlpha) * v0 + (1.0 - DampAlpha) * DampPhi * v1
      val n1 = -DampAlpha * DampBetaS * v0 +
        (1.0 - DampAlpha * DampBetaS) * DampPhi * v1
      v0 = n0; v1 = n1
    }
    out
  }
  private def dampedW(i: Int): Double = dampedWArr(i)
  private def dampedWLit(i: Int): String =
    graft.util.Num.lit17(dampedWArr(i))
  // round-half-up matches the brownQW quantizer for NEGATIVE weights
  // too: floor(x + 0.5) in both engines
  private def dampedQW(i: Int): Long =
    math.floor(dampedWArr(i) * 1e9 + 0.5).toLong

  // ---- Poisson bootstrap --------------------------------------------------
  // Poisson(1) CDF thresholds for the inverse-CDF weight ladder, written
  // as decimal strings so BOTH engines parse the identical binary64
  // (Scala toDouble and DuckDB's strtod both round correctly).
  private val PoisCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712")
  private val BootReps = 32

  // ---- inverse normal CDF (x_fdr_bh critical values) ----------------------
  // Acklam's rational approximation to Φ⁻¹ (relative error < 1.2e-9 —
  // far below the 1e-6 output quantizer). Evaluated ONCE here at build
  // time; the resulting critical values are embedded in BOTH engines as
  // 17-significant-digit decimal literals (the EwmaW/PoisCdf trick), so
  // neither engine ever evaluates a special function at query time.
  private def invNorm(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val dd = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) *
        q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q +
        c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    }
  }

  // BH critical |z| thresholds for m = 25 two-sided tests at FDR 0.05:
  // crit_i = Φ⁻¹(1 − (i·0.05/25)/2), i = 1..25, as round-trip literals.
  private val FdrM = 25
  private[ext] def fdrCrit(i: Int): Double =
    invNorm(1.0 - (i * 0.05 / FdrM) / 2.0)
  private def fdrCritLit(i: Int): String =
    graft.util.Num.lit17(fdrCrit(i))

  // ---- inverse Student-t quantile with DATA-DEPENDENT df ------------------
  // Hill's Algorithm 396 (CACM 13(10), 1970) as a pair of expression
  // builders — one Spark Column tree, one DuckDB SQL text — evaluated
  // IN-ENGINE because the consuming tests (Grubbs/ESD) need t at a
  // probability and df the data decides (α/(2N), N−2), which the
  // embed-a-literal trick that serves x_fdr_bh cannot cover. Both
  // builders spell the IDENTICAL arithmetic (every constant a lit17
  // round-trip literal, identical operation order), so both engines
  // walk the same IEEE doubles; the caller quantizes the result (1e9)
  // before deriving anything, firewalling the pow/exp 1-ulp risk the
  // cross-engine notes allow for. Accuracy vs an incomplete-beta
  // bisection reference: |rel err| ≤ 4e-6 over p2 ∈ [1e-5, 0.05],
  // df ∈ [1, 2400]; ≤ 3e-10 in the small-p/large-df regime Grubbs
  // lives in (validated offline, pinned in the spec).
  private def polyCol(cs: Seq[Double], x: Column): Column =
    cs.tail.foldLeft(lit(cs.head): Column)((acc, ci) => acc * x + lit(ci))
  private def polySql(cs: Seq[Double], x: String): String =
    cs.tail.foldLeft(s"CAST(${graft.util.Num.lit17(cs.head)} AS DOUBLE)")(
      (acc, ci) => s"(($acc) * ($x) + ${graft.util.Num.lit17(ci)})")

  private val AckA = Seq(-3.969683028665376e+01, 2.209460984245205e+02,
    -2.759285104469687e+02, 1.383577518672690e+02,
    -3.066479806614716e+01, 2.506628277459239e+00)
  private val AckB = Seq(-5.447609879822406e+01, 1.615858368580409e+02,
    -1.556989798598866e+02, 6.680131188771972e+01,
    -1.328068155288572e+01, 1.0)
  private val AckC = Seq(-7.784894002430293e-03, -3.223964580411365e-01,
    -2.400758277161838e+00, -2.549732539343734e+00,
    4.374664141464968e+00, 2.938163982698783e+00)
  private val AckD = Seq(7.784695709041462e-03, 3.224671290700398e-01,
    2.445134137142996e+00, 3.754408661907416e+00, 1.0)

  /** Acklam Φ⁻¹ with a column-valued probability (all three branches). */
  private[ext] def invNormCol(p: Column): Column = {
    val qLo = sqrt(lit(-2.0) * log(p))
    val qHi = sqrt(lit(-2.0) * log(lit(1.0) - p))
    val qM = p - 0.5
    val rM = qM * qM
    when(p < 0.02425, polyCol(AckC, qLo) / polyCol(AckD, qLo))
      .when(p <= 0.97575, polyCol(AckA, rM) * qM / polyCol(AckB, rM))
      .otherwise(-polyCol(AckC, qHi) / polyCol(AckD, qHi))
  }

  private def invNormSql(p: String): String = {
    val qLo = s"sqrt(-2.0 * ln($p))"
    val qHi = s"sqrt(-2.0 * ln(1.0 - ($p)))"
    val qM = s"(($p) - 0.5)"
    val rM = s"($qM * $qM)"
    s"""CASE WHEN ($p) < 0.02425
          THEN (${polySql(AckC, qLo)}) / (${polySql(AckD, qLo)})
        WHEN ($p) <= 0.97575
          THEN (${polySql(AckA, rM)}) * $qM / (${polySql(AckB, rM)})
        ELSE -((${polySql(AckC, qHi)})) / (${polySql(AckD, qHi)}) END"""
  }

  /** Two-tailed Student-t quantile t(p2, n): P(|T_n| > t) = p2.
    * df < 1 yields NULL: Hill's general branch computes
    * sqrt(t_a·π/2) with t_a = 1/(df−0.5), negative for df ≤ 0 — Spark
    * would return NaN while DuckDB sqrt(<0) THROWS, killing the whole
    * oracle query. Internals run on df clamped to ≥ 1 (throw-free in
    * both engines even where the n=1/n=2 special branches supersede
    * the general result) and the output is NULL-gated on the TRUE df,
    * so any caller with a data-decided small series degrades to NULL
    * instead of a cross-engine divergence. */
  private[ext] def tQuantileCol(p2: Column, n: Column): Column = {
    val nd = greatest(n.cast("double"), lit(1.0))
    val a = lit(1.0) / (nd - 0.5)
    val b = lit(48.0) / (a * a)
    val c0 = ((lit(20700.0) * a / b - 98.0) * a - 16.0) * a + 96.36
    val d = ((lit(94.5) / (b + c0) - 3.0) / b + 1.0) *
      sqrt(a * lit(math.Pi) / 2.0) * nd
    val x0 = d * p2
    val y0 = pow(x0, lit(2.0) / nd)
    val xn = invNormCol(p2 * 0.5)
    val yn = xn * xn
    val cAdj = when(nd < 5.0, c0 + lit(0.3) * (nd - 4.5) * (xn + 0.6))
      .otherwise(c0)
    val c2 = (((lit(0.05) * d * xn - 5.0) * xn - 7.0) * xn - 2.0) * xn +
      b + cAdj
    val y1 = (((((lit(0.4) * yn + 6.3) * yn + 36.0) * yn + 94.5) / c2 -
      yn - 3.0) / b + 1.0) * xn
    val y2 = a * y1 * y1
    val yExp = when(y2 > 0.002, exp(y2) - 1.0)
      .otherwise(lit(0.5) * y2 * y2 + y2)
    val ySm = ((lit(1.0) / (((nd + 6.0) / (nd * y0) - lit(0.089) * d -
      0.822) * (nd + 2.0) * 3.0) + lit(0.5) / (nd + 4.0)) * y0 - 1.0) *
      (nd + 1.0) / (nd + 2.0) + lit(1.0) / y0
    val yGen = when(y0 > lit(0.05) + a, yExp).otherwise(ySm)
    val p1 = p2 * lit(math.Pi) / 2.0
    // explicit NULL-df arm: greatest() skips NULLs, so
    // a NULL df would clamp nd to 1.0 and fall through every when-arm
    // into the general branch, silently returning a df=1 value where
    // the documented contract says NULL — gate it ahead of n < 1
    when(n.isNull, lit(null).cast("double"))
      .when(n < 1, lit(null).cast("double"))
      .when(n === 1, cos(p1) / sin(p1))
      .when(n === 2, sqrt(lit(2.0) / (p2 * (lit(2.0) - p2)) - 2.0))
      .otherwise(sqrt(nd * yGen))
  }

  /** Staged-CTE form of the two-tailed t-quantile for the oracle twin:
    * one CTE per intermediate so the generated text stays LINEAR. A
    * first draft inlined sub-expressions textually and exploded
    * combinatorially (~474 KB of SQL — DuckDB planned it, but the
    * planning blew the shared oracle connection's allocator and every
    * LATER query in the run died with bad_alloc; caught at the r16
    * close gate). Extends `src` (all columns carried via SELECT *);
    * returns (cteChain, finalCteName) with the new column `tq_raw`.
    * Stage arithmetic mirrors tQuantileCol operation-for-operation. */
  private def tQuantileSqlCtes(src: String, p2: String, n: String,
      prefix: String = "tq"): (String, String) = {
    val pi = graft.util.Num.lit17(math.Pi)
    // stage names carry the prefix AT CONSTRUCTION (r17 advice #2): the
    // first version rewrote the default-prefixed text with a post-hoc
    // regex over "FROM tq<letter>", which was correct for these bodies
    // but would silently mis-rewrite any future stage whose text happens
    // to contain another such token — so each intra-chain reference now
    // names its source through nm() and no rewriting happens at all
    def nm(letter: String): String = prefix + letter
    val stages = Seq(
      // df clamped to >= 1 for the INTERMEDIATES (tqe's sqrt(t_a·π/2)
      // throws in DuckDB for df <= 0); the true df still selects the
      // n=1/n=2 branches and NULL-gates the output in tqq below
      nm("a") -> s"""SELECT *, CAST(CASE WHEN ($n) >= 1 THEN ($n) ELSE 1 END
          AS DOUBLE) AS t_nd,
          ($p2) AS t_p2 FROM $src""",
      nm("b") -> s"SELECT *, 1.0 / (t_nd - 0.5) AS t_a FROM ${nm("a")}",
      nm("c") -> s"SELECT *, 48.0 / (t_a * t_a) AS t_b FROM ${nm("b")}",
      nm("d") -> s"""SELECT *, ((20700.0 * t_a / t_b - 98.0) * t_a - 16.0)
          * t_a + 96.36 AS t_c0 FROM ${nm("c")}""",
      nm("e") -> s"""SELECT *, ((94.5 / (t_b + t_c0) - 3.0) / t_b + 1.0)
          * sqrt(t_a * CAST($pi AS DOUBLE) / 2.0) * t_nd AS t_d
          FROM ${nm("d")}""",
      nm("f") -> s"SELECT *, t_d * t_p2 AS t_x0 FROM ${nm("e")}",
      nm("g") -> s"SELECT *, pow(t_x0, 2.0 / t_nd) AS t_y0 FROM ${nm("f")}",
      nm("h") -> s"""SELECT *, ${invNormSql("(t_p2 * 0.5)")} AS t_xn
          FROM ${nm("g")}""",
      nm("i") -> s"SELECT *, t_xn * t_xn AS t_yn FROM ${nm("h")}",
      nm("j") -> s"""SELECT *, CASE WHEN t_nd < 5.0 THEN t_c0 + 0.3
          * (t_nd - 4.5) * (t_xn + 0.6) ELSE t_c0 END AS t_cadj
          FROM ${nm("i")}""",
      nm("k") -> s"""SELECT *, (((0.05 * t_d * t_xn - 5.0) * t_xn - 7.0)
          * t_xn - 2.0) * t_xn + t_b + t_cadj AS t_c2 FROM ${nm("j")}""",
      nm("l") -> s"""SELECT *, (((((0.4 * t_yn + 6.3) * t_yn + 36.0)
          * t_yn + 94.5) / t_c2 - t_yn - 3.0) / t_b + 1.0) * t_xn
          AS t_y1 FROM ${nm("k")}""",
      nm("m") -> s"SELECT *, t_a * t_y1 * t_y1 AS t_y2 FROM ${nm("l")}",
      nm("n") -> s"""SELECT *, CASE WHEN t_y2 > 0.002 THEN exp(t_y2) - 1.0
          ELSE 0.5 * t_y2 * t_y2 + t_y2 END AS t_yexp FROM ${nm("m")}""",
      nm("o") -> s"""SELECT *, ((1.0 / (((t_nd + 6.0) / (t_nd * t_y0)
          - 0.089 * t_d - 0.822) * (t_nd + 2.0) * 3.0)
          + 0.5 / (t_nd + 4.0)) * t_y0 - 1.0) * (t_nd + 1.0)
          / (t_nd + 2.0) + 1.0 / t_y0 AS t_ysm FROM ${nm("n")}""",
      nm("p") -> s"""SELECT *, CASE WHEN t_y0 > 0.05 + t_a THEN t_yexp
          ELSE t_ysm END AS t_ygen FROM ${nm("o")}""",
      // NULL-df arm first (r17 advice #1), mirroring tQuantileCol
      nm("q") -> s"""SELECT *, CASE WHEN ($n) IS NULL THEN NULL
          WHEN ($n) < 1 THEN NULL
          WHEN ($n) = 1
          THEN cos(t_p2 * CAST($pi AS DOUBLE) / 2.0)
               / sin(t_p2 * CAST($pi AS DOUBLE) / 2.0)
          WHEN ($n) = 2 THEN sqrt(2.0 / (t_p2 * (2.0 - t_p2)) - 2.0)
          ELSE sqrt(t_nd * t_ygen) END AS tq_raw FROM ${nm("p")}""")
    (stages.map { case (name, q) => s"$name AS ($q)" }.mkString(",\n"),
      nm("q"))
  }

  /** Staged evaluation of the two-tailed t-quantile on a SMALL
    * (picked/bounded) frame: one withColumn per tQuantileSqlCtes stage
    * — named intermediate columns instead of one nested Column tree —
    * with a localCheckpoint after the Acklam stage so each Catalyst
    * analyze/optimize/codegen unit stays LINEAR in the stage count.
    * The single tQuantileCol tree duplicates every intermediate
    * subtree at every reference (the Column analogue of the SQL
    * blow-up the CTE chain avoids) and costs ~9 s of pure, input-size-
    * independent plan/codegen — enough to push x_grubbs_outlier over
    * its 20 s member budget, and ×5 for x_generalized_esd. Arithmetic here
    * mirrors tQuantileCol operation-for-operation (same ops, same
    * order), so the staged value is bit-identical and both oracles
    * stay hash-green. Caller contract: `df` must be BOUNDED (the
    * O(priorities) pick rows) — the checkpoints materialize it. */
  private def tQuantileStaged(df: DataFrame, p2: Column, n: Column,
      out: String): DataFrame = {
    val half = df
      .withColumn("t_n", n)
      .withColumn("t_p2", p2)
      .withColumn("t_nd", greatest(col("t_n").cast("double"), lit(1.0)))
      .withColumn("t_a", lit(1.0) / (col("t_nd") - 0.5))
      .withColumn("t_b", lit(48.0) / (col("t_a") * col("t_a")))
      .withColumn("t_c0",
        ((lit(20700.0) * col("t_a") / col("t_b") - 98.0) * col("t_a")
          - 16.0) * col("t_a") + 96.36)
      .withColumn("t_d",
        ((lit(94.5) / (col("t_b") + col("t_c0")) - 3.0) / col("t_b")
          + 1.0) * sqrt(col("t_a") * lit(math.Pi) / 2.0) * col("t_nd"))
      .withColumn("t_x0", col("t_d") * col("t_p2"))
      .withColumn("t_y0", pow(col("t_x0"), lit(2.0) / col("t_nd")))
      // Acklam Φ⁻¹ staged: p = t_p2·0.5 ≤ 0.025 on every caller, but
      // all three branch inputs are computed as columns for parity
      // with invNormCol's tree (sqrt of a negative is NaN in Spark,
      // never a throw, and the CASE discards the unused branches)
      .withColumn("t_ph", col("t_p2") * 0.5)
      .withColumn("t_qlo", sqrt(lit(-2.0) * log(col("t_ph"))))
      .withColumn("t_qhi", sqrt(lit(-2.0) * log(lit(1.0) - col("t_ph"))))
      .withColumn("t_qm", col("t_ph") - 0.5)
      .withColumn("t_rm", col("t_qm") * col("t_qm"))
      .withColumn("t_xn",
        when(col("t_ph") < 0.02425,
          polyCol(AckC, col("t_qlo")) / polyCol(AckD, col("t_qlo")))
          .when(col("t_ph") <= 0.97575,
            polyCol(AckA, col("t_rm")) * col("t_qm")
              / polyCol(AckB, col("t_rm")))
          .otherwise(-polyCol(AckC, col("t_qhi"))
            / polyCol(AckD, col("t_qhi"))))
      .localCheckpoint()
    half
      .withColumn("t_yn", col("t_xn") * col("t_xn"))
      .withColumn("t_cadj",
        when(col("t_nd") < 5.0,
          col("t_c0") + lit(0.3) * (col("t_nd") - 4.5)
            * (col("t_xn") + 0.6))
          .otherwise(col("t_c0")))
      .withColumn("t_c2",
        (((lit(0.05) * col("t_d") * col("t_xn") - 5.0) * col("t_xn")
          - 7.0) * col("t_xn") - 2.0) * col("t_xn")
          + col("t_b") + col("t_cadj"))
      .withColumn("t_y1",
        (((((lit(0.4) * col("t_yn") + 6.3) * col("t_yn") + 36.0)
          * col("t_yn") + 94.5) / col("t_c2") - col("t_yn") - 3.0)
          / col("t_b") + 1.0) * col("t_xn"))
      .withColumn("t_y2", col("t_a") * col("t_y1") * col("t_y1"))
      .withColumn("t_yexp",
        when(col("t_y2") > 0.002, exp(col("t_y2")) - 1.0)
          .otherwise(lit(0.5) * col("t_y2") * col("t_y2") + col("t_y2")))
      .withColumn("t_ysm",
        ((lit(1.0) / (((col("t_nd") + 6.0) / (col("t_nd") * col("t_y0"))
          - lit(0.089) * col("t_d") - 0.822) * (col("t_nd") + 2.0) * 3.0)
          + lit(0.5) / (col("t_nd") + 4.0)) * col("t_y0") - 1.0)
          * (col("t_nd") + 1.0) / (col("t_nd") + 2.0)
          + lit(1.0) / col("t_y0"))
      .withColumn("t_ygen",
        when(col("t_y0") > lit(0.05) + col("t_a"), col("t_yexp"))
          .otherwise(col("t_ysm")))
      .withColumn(out,
        when(col("t_n").isNull, lit(null).cast("double"))
          .when(col("t_n") < 1, lit(null).cast("double"))
          .when(col("t_n") === 1,
            cos(col("t_p2") * lit(math.Pi) / 2.0)
              / sin(col("t_p2") * lit(math.Pi) / 2.0))
          .when(col("t_n") === 2,
            sqrt(lit(2.0) / (col("t_p2") * (lit(2.0) - col("t_p2")))
              - 2.0))
          .otherwise(sqrt(col("t_nd") * col("t_ygen"))))
      .drop("t_n", "t_p2", "t_nd", "t_a", "t_b", "t_c0", "t_d", "t_x0",
        "t_y0", "t_ph", "t_qlo", "t_qhi", "t_qm", "t_rm", "t_xn",
        "t_yn", "t_cadj", "t_c2", "t_y1", "t_y2", "t_yexp", "t_ysm",
        "t_ygen")
  }

  // Rosner generalized-ESD round count: up to 5 outliers tested per
  // priority series (x_generalized_esd).
  private val EsdR = 5

  // ---- rank-biased overlap constants -------------------------------------
  // Truncation depth and persistence for x_rank_biased_overlap. The
  // per-depth weights (1−p)·p^(d−1)/d are driver-computed ONCE and
  // embedded in both engines as 1e15 fixed-point longs (the
  // no-pow-at-query-time discipline); the tail mass p^D rides as a
  // 17-digit literal.
  private val RboDepth = 100
  private val RboP = 0.98
  private def rboQW(d: Int): Long =
    math.floor((1.0 - RboP) * math.pow(RboP, d - 1) / d * 1e15 + 0.5)
      .toLong
  private val rboTail: Double = math.pow(RboP, RboDepth)

  // ---- shared monthly-revenue-in-millions series -------------------------
  // The monthly grouped revenue series normalized to MILLIONS, so the
  // 1e9 fixed-point ladder terms stay inside BIGINT at any corpus size
  // (raw monthly revenue crosses the long range near sf≈3) — U₂, MASE
  // and the other consumers are scale-invariant, and the divided series
  // is the same exact double in both engines. Checkpointed: every
  // consumer forks it into 2-3 aggregate subplans, and the O(months)
  // barrier keeps the fact pass to once per query.
  private def monthlyRevMil(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg((sum(col("o_totalprice").cast("decimal(18,4)"))
        .cast("double") / 1e6).as("r"))
      .localCheckpoint()

  private val monthlyRevMilSql: String =
    """SELECT date_trunc('month', o_orderdate) AS mth,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                AS DOUBLE) / 1e6 AS r
       FROM orders GROUP BY 1"""

  // ---- shared daily OLS-trend machinery (x_durbin_watson /
  // x_breusch_pagan): the pooled day grain with a row index and the
  // closed-form trend fit from exact integer sums.
  // Returns (rn0(day, y, rn) checkpointed, ols(n, sx, sxx, b, a)). ---------
  private def dailyTrend(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val wD = Window.orderBy("day")
    val daily = pooledDaily(s, d)
    val rn0 = daily.withColumn("rn", row_number().over(wD).cast("long"))
    val ols = rn0.agg(count(lit(1)).cast("long").as("n"),
      sum(col("rn")).cast("long").as("sx"),
      sum(col("y")).cast("long").as("sy"),
      sum((col("rn") * col("y")).cast("decimal(38,0)")).as("sxy"),
      sum(col("rn") * col("rn")).cast("long").as("sxx"))
      .withColumn("b",
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sxx")
            - col("sx").cast("double") * col("sx")))
      .withColumn("a",
        (col("sy").cast("double") - col("b") * col("sx")) / col("n"))
    (rn0, ols)
  }

  /** DuckDB twin of [[dailyTrend]]: CTE chain ending in
    * rn0(day, y, rn) and ols(n, sx, sxx, b, a). */
  private val dailyTrendSql: String =
    """daily AS MATERIALIZED (
         SELECT date_trunc('day', o_orderdate) AS day,
                CAST(COUNT(*) AS BIGINT) AS y
         FROM orders GROUP BY 1),
       rn0 AS MATERIALIZED (
         SELECT day, y,
                CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
         FROM daily),
       ols0 AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(rn) AS BIGINT) AS sx,
                CAST(SUM(y) AS BIGINT) AS sy,
                SUM(CAST(rn * y AS HUGEINT)) AS sxy,
                CAST(SUM(rn * rn) AS BIGINT) AS sxx
         FROM rn0),
       ols1 AS (
         SELECT n, sx, sxx, sy,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * sxx
                    - CAST(sx AS DOUBLE) * sx) AS b
         FROM ols0),
       ols AS (
         SELECT n, sx, sxx, b,
                (CAST(sy AS DOUBLE) - b * sx) / n AS a
         FROM ols1)"""

  // ---- shared pooled-daily change-point spine (x_snht_changepoint /
  // x_buishand_range / x_chow_test): the pooled (day, y) grain with
  // integer cumsum + row index, the moment stats (mean, guarded sd)
  // broadcast alongside, and the cumulative deviation S_k = cumY − rn·ȳ
  // every member reads. ----------------------------------------------------
  /** cum(day, y, cumy, rn, n, sy, mean, sd, sk); daily checkpointed. */
  private def dailyCum(s: SparkSession, d: String): DataFrame = {
    val wD = Window.orderBy("day")
    val daily = pooledDaily(s, d)
    val st = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("y")).cast("long").as("sy"),
      sum(col("y") * col("y")).cast("long").as("syy"))
      .withColumn("mean", col("sy").cast("double") / col("n"))
      .withColumn("vr",
        (col("syy").cast("double") -
          col("sy").cast("double") * col("sy") / col("n"))
          / (col("n") - 1))
      .withColumn("sd", when(col("vr") > 0, sqrt(col("vr"))))
    daily
      .withColumn("cumy", sum(col("y")).over(
        wD.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rn", row_number().over(wD).cast("long"))
      .crossJoin(broadcast(st.select("n", "sy", "mean", "sd")))
      .withColumn("sk",
        col("cumy").cast("double") - col("rn") * col("mean"))
  }

  /** Earliest argmax-|S_k| candidate row, k < n — the 1e6-quantized
    * cumulative-deviation pick Buishand and Chow share verbatim. */
  private def skArgmaxPick(cum: DataFrame): DataFrame =
    cum.filter(col("rn") < col("n"))
      .withColumn("qs", floor(abs(col("sk")) * 1e6 + 0.5).cast("long"))
      .withColumn("pk", row_number().over(
        Window.orderBy(desc("qs"), asc("day"))))
      .filter(col("pk") === 1)

  /** DuckDB twin of [[dailyCum]]: CTE chain ending in
    * cum(dy, y, cumy, rn, n, sy, mean, sd, skv). */
  private val dailyCumSql: String =
    """daily AS MATERIALIZED (
         SELECT date_trunc('day', o_orderdate) AS dy,
                CAST(COUNT(*) AS BIGINT) AS y
         FROM orders GROUP BY 1),
       stm0 AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(y) AS BIGINT) AS sy,
                CAST(SUM(y * y) AS BIGINT) AS syy
         FROM daily),
       stm1 AS (
         SELECT n, sy, CAST(sy AS DOUBLE) / n AS mean,
                (CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS vr
         FROM stm0),
       stm AS (
         SELECT n, sy, mean,
                CASE WHEN vr > 0 THEN sqrt(vr) END AS sd
         FROM stm1),
       cum0 AS (
         SELECT dy, y,
                CAST(SUM(y) OVER (ORDER BY dy
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cumy,
                CAST(row_number() OVER (ORDER BY dy) AS BIGINT) AS rn
         FROM daily),
       cum AS (
         SELECT c.dy, c.y, c.cumy, c.rn, s.n, s.sy, s.mean, s.sd,
                CAST(c.cumy AS DOUBLE) - c.rn * s.mean AS skv
         FROM cum0 c CROSS JOIN stm s)"""

  /** DuckDB twin of [[skArgmaxPick]] over [[dailyCumSql]]'s cum:
    * one CTE, skpick = cum's columns at the earliest argmax |S_k|. */
  private val skPickSql: String =
    """skpick AS (
         SELECT * FROM (
           SELECT cum.*,
                  row_number() OVER (ORDER BY
                    CAST(floor(abs(skv) * 1e6 + 0.5) AS BIGINT) DESC,
                    dy ASC) AS pk
           FROM cum WHERE rn < n)
         WHERE pk = 1)"""

  // ---- shared 3-regressor OLS solver (x_granger_causality /
  // x_dickey_fuller): Cramer's rule on the 3×3 normal
  // equations [[m,s1,s2],[s1,s11,s12],[s2,s12,s22]]·[a,b,c]ᵀ =
  // [sy,s1y,s2y]ᵀ over EXACT sufficient sums. ------------------------------

  /** (det, a, b, c) columns. det is the Gram determinant — 0 exactly
    * when the regressors are collinear (a constant lagged series, a
    * 1-row fit); a/b/c NULL-gate on det > 0 in both engines so the
    * degenerate shape degrades to NULL, never a Spark-Inf/DuckDB-NULL
    * divergence. The cofactor expansion order is spelled IDENTICALLY
    * in [[cramer3Sql]] so both engines walk the same IEEE doubles. */
  private def cramer3(m: Column, s1: Column, s2: Column, s11: Column,
      s12: Column, s22: Column, sy: Column, s1y: Column, s2y: Column)
      : (Column, Column, Column, Column) = {
    val d = m * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val da = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val db = m * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val dc = m * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    (d, when(d > 0, da / d), when(d > 0, db / d), when(d > 0, dc / d))
  }

  /** DuckDB twin of [[cramer3]]: SQL expression texts (d, da, db, dc)
    * over the given column-name operands — the caller selects them in
    * one CTE and derives a = CASE WHEN d > 0 THEN da / d END etc. in
    * the next (text-linear, the tQuantileSqlCtes lesson). */
  private def cramer3Sql(m: String, s1: String, s2: String, s11: String,
      s12: String, s22: String, sy: String, s1y: String, s2y: String)
      : (String, String, String, String) = (
    s"""$m * ($s11 * $s22 - $s12 * $s12)
        - $s1 * ($s1 * $s22 - $s12 * $s2)
        + $s2 * ($s1 * $s12 - $s11 * $s2)""",
    s"""$sy * ($s11 * $s22 - $s12 * $s12)
        - $s1 * ($s1y * $s22 - $s12 * $s2y)
        + $s2 * ($s1y * $s12 - $s11 * $s2y)""",
    s"""$m * ($s1y * $s22 - $s12 * $s2y)
        - $sy * ($s1 * $s22 - $s12 * $s2)
        + $s2 * ($s1 * $s2y - $s1y * $s2)""",
    s"""$m * ($s11 * $s2y - $s1y * $s12)
        - $s1 * ($s1 * $s2y - $s1y * $s2)
        + $sy * ($s1 * $s12 - $s11 * $s2)""")

  // ---- shared daily (count, revenue-in-millions) grain --------------------
  // x_granger_causality needs BOTH pooled daily series on one row; the
  // revenue normalization matches monthlyRevMil (exact DECIMAL sum,
  // ONE division to millions — the shared 1e9 fixed-point terms stay
  // inside BIGINT at any corpus size). Checkpointed: the grain is
  // calendar-bounded (O(days)) while the groupBy below it scans the
  // fact table once.
  private def dailyCntRevMil(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        (sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double") / 1e6).as("revm"))
      .localCheckpoint()

  /** DuckDB twin of [[dailyCntRevMil]]: one CTE, dcr(day, cnt, revm). */
  private val dailyCntRevMilSql: String =
    """dcr AS MATERIALIZED (
         SELECT date_trunc('day', o_orderdate) AS day,
                CAST(COUNT(*) AS BIGINT) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                  AS DOUBLE) / 1e6 AS revm
         FROM orders GROUP BY 1)"""

  // ---- forward normal CDF (x_anderson_darling) -----------------------------
  // Abramowitz–Stegun 7.1.26 rational erf approximation (|ε| < 1.5e-7
  // — three orders under the 1e6 per-term quantizer; drift vs exact
  // erf pinned at 2.1e-6 on the fixture statistic) as the dual
  // Column/SQL builder pattern of invNormCol:
  // Anderson–Darling needs Φ itself, not Φ⁻¹, so the embed-a-literal
  // trick cannot serve (z is data-decided per distinct value). Both
  // engines spell the identical arithmetic; every constant is a lit17
  // round-trip literal.
  private val AsP = 0.3275911
  private val AsA = Seq(0.254829592, -0.284496736, 1.421413741,
    -1.453152027, 1.061405429)
  private val Sqrt2 = math.sqrt(2.0)

  /** Φ(z) for a column-valued z (both tails via |x| + sign fold). */
  private[ext] def phiAsCol(z: Column): Column = {
    val ax = abs(z) / lit(Sqrt2)
    val tt = lit(1.0) / (lit(1.0) + lit(AsP) * ax)
    val poly = ((((lit(AsA(4)) * tt + lit(AsA(3))) * tt + lit(AsA(2)))
      * tt + lit(AsA(1))) * tt + lit(AsA(0))) * tt
    val erf = lit(1.0) - poly * exp(-(ax * ax))
    when(z >= 0, lit(0.5) * (lit(1.0) + erf))
      .otherwise(lit(0.5) * (lit(1.0) - erf))
  }

  private def phiAsSql(z: String): String = {
    val l = graft.util.Num.lit17 _
    val ax = s"(abs($z) / ${l(Sqrt2)})"
    val tt = s"(1.0 / (1.0 + ${l(AsP)} * $ax))"
    val poly = s"(((((${l(AsA(4))} * $tt + ${l(AsA(3))}) * $tt" +
      s" + ${l(AsA(2))}) * $tt + ${l(AsA(1))}) * $tt + ${l(AsA(0))})" +
      s" * $tt)"
    val erf = s"(1.0 - $poly * exp(-($ax * $ax)))"
    s"""CASE WHEN ($z) >= 0 THEN 0.5 * (1.0 + $erf)
        ELSE 0.5 * (1.0 - $erf) END"""
  }

  // ---- Mincer–Zarnowitz calibration SES ladder -----------------------------
  // α = 0.3 one-step SES as the lag-1..40 normalized weight ladder
  // (w_i = α(1−α)^(i−1); w₄₀ ≈ 2.8e−7, the truncated-normalized EWMA
  // convention of the EwmaAlpha ladder). Weights computed ONCE here,
  // embedded in both engines through the shared ladder builders.
  private val MzAlpha = 0.3
  private def mzW(i: Int): Double = MzAlpha * math.pow(1.0 - MzAlpha, i - 1)
  private def mzWLit(i: Int): String = graft.util.Num.lit17(mzW(i))
  private def mzQW(i: Int): Long = math.floor(mzW(i) * 1e9 + 0.5).toLong

  // ---- complete-block machinery: one builder + one CTE prefix per engine
  // for the block family (friedman, page, quade, cochran_q, kendalls_w,
  // nemenyi, friedman_aligned) ----------------------------------------------

  /** Month×priority revenue cells — the continuous-response cells the
    * rank-based members (friedman, page, kendalls_w) rank. */
  private def revBlockCells(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("blk"),
        col("o_orderpriority").as("trt"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))

  /** COMPLETE blocks only (every treatment present — the family's own
    * requirement), the data-decided k riding as a column; checkpointed
    * O(months×k) rows. Works for any (blk, trt, ...) cell frame. */
  private def completeBlocks(cells: DataFrame): DataFrame = {
    val k = cells.agg(countDistinct(col("trt")).as("k"))
    cells
      .withColumn("kb", count(lit(1)).over(Window.partitionBy("blk")))
      .crossJoin(broadcast(k))
      .filter(col("kb") === col("k"))
      .drop("kb")
      .localCheckpoint()
  }

  /** Doubled average ranks within block: r2 = 2·rank + ties − 1 —
    * exact integers equal to 2·r̄ under any tie pattern. */
  private def rankedR2(full: DataFrame): DataFrame =
    full
      .withColumn("rnk",
        rank().over(Window.partitionBy("blk").orderBy("rev")))
      .withColumn("tcnt",
        count(lit(1)).over(Window.partitionBy("blk", "rev")))
      .withColumn("r2", lit(2L) * col("rnk") + col("tcnt") - 1L)

  /** DuckDB twins of the three builders: expects a CTE named `cells`
    * (any extra columns ride along); EXCLUDE drops the helper kb so
    * full_b's shape matches the engine's frame exactly. */
  private val revCellsSql: String =
    """cells AS (
         SELECT date_trunc('month', o_orderdate) AS blk,
                o_orderpriority AS trt,
                SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
         FROM orders GROUP BY 1, 2)"""
  private val completeBlockSql: String =
    """kk AS (SELECT COUNT(DISTINCT trt) AS k FROM cells),
       full_b AS (
         SELECT c.* EXCLUDE (kb), x.k
         FROM (SELECT *, COUNT(*) OVER (PARTITION BY blk) AS kb
               FROM cells) c
         CROSS JOIN kk x WHERE c.kb = x.k)"""
  private val rankedR2Sql: String =
    """ranked AS (
         SELECT *, 2 * rank() OVER (PARTITION BY blk ORDER BY rev)
           + COUNT(*) OVER (PARTITION BY blk, rev) - 1 AS r2
         FROM full_b)"""

  // Benjamini–Yekutieli dependence-robust factor c(m) = Σ_{i=1..m} 1/i:
  // each 1/i term is 1e12-quantized BEFORE the sum, so the Scala
  // constant here and the in-engine harmonic ladder (computed from the
  // data's own hypothesis count) are the same exact integer — the spec
  // pins their equality. BY critical |z| at rank i divides the BH level
  // by c(m): crit_i = Φ⁻¹(1 − (i·α/(m·c(m)))/2).
  private[ext] def byCmQ(m: Int): Long =
    (1 to m).map(i => math.floor(1e12 / i + 0.5).toLong).sum
  private[ext] def byCrit(i: Int): Double =
    invNorm(1.0 - (i * 0.05 / (FdrM * (byCmQ(FdrM) / 1e12))) / 2.0)
  private def byCritLit(i: Int): String =
    graft.util.Num.lit17(byCrit(i))

  // Dunn post-hoc Bonferroni critical value Φ⁻¹(1 − 0.025/m) for the
  // data-decided m = k(k−1)/2 — same literal-gated-on-data convention
  // as byCrit (m outside the k ∈ 2..6 table → NULL verdict).
  private[ext] def dunnCrit(m: Int): Double = invNorm(1.0 - 0.025 / m)
  private def dunnCritLit(m: Int): String =
    graft.util.Num.lit17(dunnCrit(m))

  // ---- scale-safe global rank --------------------------------------------
  // row_number() over an UNPARTITIONED Window moves every row to one
  // partition — a serial sort that dies at 100× scale. This is the exact
  // replacement: decompose the global rank into
  //   r = (exclusive cumsum of per-value counts over the DISTINCT-value
  //        table) + (row_number within the value group by the tiebreaker)
  // so the only unpartitioned window runs over |distinct values| rows
  // and the only per-row window is PARTITIONED by the value itself. The
  // start offsets rejoin on the value — the same key the within-group
  // window hash-partitioned on, so the join reuses that exchange. Output
  // is bit-identical to row_number().over(Window.orderBy(value, ties...)).
  private def globalRank(df: DataFrame, valueCol: String,
      tieCols: Seq[String], out: String): DataFrame = {
    val starts = exclusiveCum(
        df.groupBy(col(valueCol)).agg(count(lit(1)).as("__cnt")),
        valueCol, "__cnt", "__s0")
      .select(col(valueCol), col("__s0"))
    val wIn = Window.partitionBy(col(valueCol))
      .orderBy(tieCols.map(col): _*)
    df.withColumn("__rw", row_number().over(wIn).cast("long"))
      .join(starts, valueCol)
      .withColumn(out, col("__s0") + col("__rw"))
      .drop("__rw", "__s0")
  }

  // ---- shared statistical kernels -----------------------------------------
  // Each kernel is one derivation — a grain, a sufficient statistic or a
  // shared finisher — that several tests use; a test is kernels plus
  // its closed-form finisher. The oracle twins in `oracleSql` stay
  // independent handwritten SQL.

  /** Exclusive running total: `out` = Σ `cnt` over the rows strictly
    * before this one in `order` (within `part`), 0 on the first row. On a
    * value histogram this is the count of smaller values — the only
    * window rank statistics need, and it runs over distinct values, never
    * over fact rows. */
  private[graft] def exclusiveCum(df: DataFrame, order: String, cnt: String,
      out: String, part: String*): DataFrame =
    df.withColumn(out, coalesce(sum(col(cnt)).over(
      Window.partitionBy(part.map(col): _*).orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))

  /** Twice the average rank of a value tied t times above s0 smaller
    * values: 2·s0 + t + 1, an exact integer under any tie pattern. */
  private[graft] def doubledRank: Column =
    lit(2L) * col("s0") + col("t") + 1L

  /** Pooled doubled ranks over a grouped (grp, v, c) histogram. Returns
    * vts(v, t, s0) per value (see [[doubledRank]]), gsum(grp, ng, r2g)
    * with r2g = Σ c·r2 per group, and ties(st3) with st3 = Σ(t³ − t),
    * the tie-correction term. */
  private[graft] def doubledRanks(hist: DataFrame, grp: String, v: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val vt = hist.groupBy(v).agg(sum(col("c")).cast("long").as("t"))
    val vts = exclusiveCum(vt, v, "t", "s0")
    val gsum = hist.join(vts, v)
      .groupBy(grp)
      .agg(sum(col("c")).cast("long").as("ng"),
        sum((col("c") * doubledRank).cast("decimal(38,0)")).as("r2g"))
    val ties = vt.agg(
      sum((col("t") * col("t") * col("t") - col("t"))
        .cast("decimal(38,0)")).as("st3"))
    (vts, gsum, ties)
  }

  /** Lower median per group off a grouped (grp, v, c) histogram: the
    * value at rank (n+1) div 2 is the MIN value whose per-group
    * cumulative count reaches that rank, so the only window is
    * partitioned by group over its distinct values. `counts(grp, n)`
    * carries the group sizes. (x_brown_forsythe's `2·cum ≥ n+1` pick is
    * the UPPER median for even n and deliberately not this kernel.) */
  private[graft] def lowerMedianBy(hist: DataFrame, grp: String, v: String,
      c: String, counts: DataFrame, n: String, out: String): DataFrame = {
    val wCum = Window.partitionBy(grp).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, 0)
    hist
      .withColumn("__cum", sum(col(c)).over(wCum))
      .join(broadcast(counts), grp)
      .filter(col("__cum") >= expr(s"($n + 1) div 2"))
      .groupBy(col(grp)).agg(min(col(v)).as(out))
  }

  /** The two-arm experiment coin: an order's arm is the first hex digit
    * of md5(o_orderkey) below 8, a split both engines compute alike. */
  private[graft] def armCoin: Column =
    substring(md5(col("o_orderkey").cast("string")), 1, 1) < "8"

  /** Two-arm cent-value histogram hist(qv, c1, c0, s0) — c1/c0 the arm
    * counts at order value qv (cents), s0 the arm-0 count below qv — and
    * the arm sizes tot(n1, n0). */
  private[graft] def armCentHist(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val hist = t(s, d, "orders")
      .select(armCoin.as("tr"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("qv"))
      .groupBy("qv")
      .agg(sum(when(col("tr"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("tr"), 1L).otherwise(0L)).as("c0"))
    val tot = hist.agg(sum(col("c1")).cast("long").as("n1"),
      sum(col("c0")).cast("long").as("n0"))
    (exclusiveCum(hist, "qv", "c0", "s0"), tot)
  }

  /** Per-priority two-arm order-value moments: per arm (suffix 1/0) n,
    * Σy as DECIMAL(18,4) and Σy² as 1e4-fixed-point DECIMAL(38,0), kept
    * where both arms have n > 1, with means m1/m0 and unbiased variances
    * v1/v0 in double from the exact sums. */
  private[graft] def armMoments(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderpriority").as("grp"), armCoin.as("tr"),
        col("o_totalprice").as("y"))
      .groupBy("grp")
      .agg(
        sum(when(col("tr"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("tr"), col("y").cast("decimal(18,4)"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("sy1"),
        sum(when(col("tr"), floor(col("y") * col("y") * 1e4 + 0.5))
          .otherwise(0.0).cast("decimal(38,0)")).as("syy1"),
        sum(when(!col("tr"), 1L).otherwise(0L)).as("n0"),
        sum(when(!col("tr"), col("y").cast("decimal(18,4)"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("sy0"),
        sum(when(!col("tr"), floor(col("y") * col("y") * 1e4 + 0.5))
          .otherwise(0.0).cast("decimal(38,0)")).as("syy0"))
      .filter(col("n1") > 1 && col("n0") > 1)
      .withColumn("m1", col("sy1").cast("double") / col("n1"))
      .withColumn("m0", col("sy0").cast("double") / col("n0"))
      .withColumn("v1",
        (col("syy1").cast("double") / 1e4
          - col("sy1").cast("double") * col("sy1").cast("double")
            / col("n1")) / (col("n1") - 1))
      .withColumn("v0",
        (col("syy0").cast("double") / 1e4
          - col("sy0").cast("double") * col("sy0").cast("double")
            / col("n0")) / (col("n0") - 1))

  /** Per-priority order-value moment grain (grp, n, sy, syy): Σy as
    * DECIMAL(18,4), Σy² as a DECIMAL sum of 1e4-quantized per-row
    * squares — a per-term double square is identical in both engines,
    * the sum must be exact because float addition order is not. */
  private[graft] def priceMoments(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("sy"),
        sum(floor(col("o_totalprice") * col("o_totalprice") * 1e4 + 0.5)
          .cast("decimal(38,0)")).as("syy"))

  /** Per-priority histogram of order value in cents, (grp, qv, c),
    * checkpointed: the value domain, not the corpus, bounds its size. */
  private[graft] def priorityCentHist(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderpriority").as("grp"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("qv"))
      .groupBy("grp", "qv").agg(count(lit(1)).as("c"))
      .localCheckpoint()

  /** One-way ANOVA across priorities on the absolute deviations of order
    * value from a per-group centre `center(grp, c)`. Each |y − c| is
    * 1e6-quantized (its square 1e4) before DECIMAL sums; per-group terms
    * are 1e4-quantized before the cross-group sums, so the F statistic
    * is double arithmetic on exact statistics. Returns
    * per(grp, n, zm, ...) checkpointed and the one-row F named `stat`. */
  private[graft] def absDevAnova(s: SparkSession, d: String,
      center: DataFrame, c: String, stat: String): (DataFrame, DataFrame) = {
    val z = t(s, d, "orders")
      .select(col("o_orderpriority").as("grp"),
        col("o_totalprice").as("y"))
      .join(broadcast(center), "grp")
      .select(col("grp"),
        floor(abs(col("y") - col(c)) * 1e6 + 0.5).as("qz"),
        floor(abs(col("y") - col(c)) * abs(col("y") - col(c))
          * 1e4 + 0.5).as("qz2"))
    val g = z.groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(col("qz").cast("decimal(38,0)")).as("sz"),
        sum(col("qz2").cast("decimal(38,0)")).as("szz"))
      .localCheckpoint()
    val tot = g.agg(count(lit(1)).as("k"),
      sum(col("n")).cast("long").as("nn"), sum(col("sz")).as("gz"))
    val per = g.crossJoin(broadcast(tot))
      .withColumn("zm", col("sz").cast("double") / 1e6 / col("n"))
      .withColumn("gm", col("gz").cast("double") / 1e6 / col("nn"))
      .withColumn("ssw_g",
        col("szz").cast("double") / 1e4
          - (col("sz").cast("double") / 1e6)
            * (col("sz").cast("double") / 1e6) / col("n"))
      .withColumn("ssb_g",
        col("n") * (col("zm") - col("gm")) * (col("zm") - col("gm")))
      .localCheckpoint()
    val w = per.groupBy(col("k"), col("nn"))
      .agg(
        sum(floor(col("ssw_g") * 1e4 + 0.5).cast("decimal(38,0)"))
          .as("qssw"),
        sum(floor(col("ssb_g") * 1e4 + 0.5).cast("decimal(38,0)"))
          .as("qssb"))
      .withColumn(stat,
        (col("qssb").cast("double") / 1e4 / (col("k") - 1))
          / (col("qssw").cast("double") / 1e4 / (col("nn") - col("k"))))
      .select(col(stat))
    (per, w)
  }

  /** Per-treatment doubled rank sums over a [[rankedR2]] frame:
    * (trt, k, r2j, nb), nb the number of complete blocks. */
  private[graft] def blockRankSums(ranked: DataFrame): DataFrame =
    ranked.groupBy(col("trt"), col("k"))
      .agg(sum(col("r2")).cast("long").as("r2j"),
        count(lit(1)).cast("long").as("nb"))

  /** Within-block tie term over a [[completeBlocks]] frame: one row,
    * st3 = Σ(t³ − t) over the runs of equal revenue in each block. */
  private[graft] def blockTies(full: DataFrame): DataFrame =
    full.groupBy(col("blk"), col("rev"))
      .agg(count(lit(1)).cast("long").as("tt"))
      .agg(sum(col("tt") * col("tt") * col("tt") - col("tt"))
        .cast("long").as("st3"))

  /** χ² 0.05 critical value for k groups, df = k − 1 in 1..5; NULL for
    * any other k, so a verdict outside the table is NULL, never a wrong
    * one — the data decides k, not the fixture. */
  private[graft] def chi2Crit05(k: Column): Column =
    when(k === 2, lit(3.841459))
      .when(k === 3, lit(5.991465))
      .when(k === 4, lit(7.814728))
      .when(k === 5, lit(9.487729))
      .when(k === 6, lit(11.070498))

  /** Pooled daily order count (day, y), checkpointed: O(days) rows that
    * every consumer forks more than once. */
  private[graft] def pooledDaily(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).cast("long").as("y"))
      .localCheckpoint()

  /** Per-supplier revenue (suppkey, rev, rq), rq the revenue in 1e4
    * fixed-point BIGINT units, so sums and prefixes over it are exact. */
  private[graft] def supplierRevenue(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_suppkey").cast("long").as("suppkey"))
      .agg(sum(graft.types.Coercions.revenue(
        col("l_extendedprice"), col("l_discount")))
        .cast("double").as("rev"))
      .withColumn("rq", floor(col("rev") * 1e4 + 0.5).cast("long"))

  /** Per-nation order counts n and fulfilled counts k (nation, n, k).
    * The orders⋈customer join strategy is left to AQE: customer grows
    * with the data, so a forced broadcast would not scale (PlanAuditSpec
    * enforces this). */
  private[graft] def nationFulfilled(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .as("k"))

  /** Two-proportion z of each nation's rate k/n against the pooled rate
    * p0 = tk/tn, ranked rnk = 1, 2, ... by |z| descending (nation breaks
    * ties); the window runs over the bounded per-nation table. */
  private[graft] def rankedRateZ(df: DataFrame): DataFrame =
    df.withColumn("p0", col("tk").cast("double") / col("tn").cast("double"))
      .withColumn("rate", col("k").cast("double") / col("n").cast("double"))
      .withColumn("z", (col("rate") - col("p0")) /
        sqrt(col("p0") * (lit(1.0) - col("p0")) /
          col("n").cast("double")))
      .withColumn("absz", abs(col("z")))
      .withColumn("rnk", row_number().over(
        Window.orderBy(desc("absz"), asc("nation"))))

  /** Step-up cut over ranked tests with a critical value `crit` per rank:
    * imax is the largest rank whose |z| reaches its crit (0 if none), and
    * every rank ≤ imax is rejected. */
  private[graft] def stepUp(scored: DataFrame): DataFrame = {
    val passed = scored.withColumn("passes", col("absz") >= col("crit"))
    passed.crossJoin(broadcast(passed
      .agg(coalesce(max(when(col("passes"), col("rnk"))), lit(0))
        .as("imax"))))
  }

  /** Per-priority moments of a (priority, day, y) series: n, Σy, Σy²
    * as exact longs, the mean and the unbiased variance vr in double,
    * and sd, NULL unless vr > 0. */
  private[graft] def seriesMoments(daily: DataFrame): DataFrame =
    daily.groupBy("priority")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("y") * col("y")).cast("long").as("syy"))
      .withColumn("mean", col("sy").cast("double") / col("n"))
      .withColumn("vr",
        (col("syy").cast("double") -
          col("sy").cast("double") * col("sy") / col("n"))
          / (col("n") - 1))
      .withColumn("sd", when(col("vr") > 0, sqrt(col("vr"))))

  /** Each priority's most extreme day of `daily` against its
    * [[seriesMoments]] `st`: the row with the largest |y − mean| (adev),
    * the earliest day on ties. */
  private[graft] def extremeDay(daily: DataFrame, st: DataFrame): DataFrame =
    daily.join(broadcast(st), "priority")
      .withColumn("adev", abs(col("y").cast("double") - col("mean")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("priority").orderBy(desc("adev"), asc("day"))))
      .filter(col("rn") === 1)

  /** Daily order count per priority: (priority, day, y). */
  private[graft] def priorityDaily(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_orderpriority").as("priority"),
        date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("y"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "x_bootstrap_ci" -> ((s, d) => {
      // bootstrap confidence interval for a corpus metric (mean doc
      // length in tokens), via the POISSON bootstrap (Chamandy et al.,
      // Google 2012 — "Estimating uncertainty for massive data streams"):
      // classic resampling needs n draws WITH replacement per replicate
      // (a shuffle of the whole corpus per replicate); the Poisson trick
      // gives each row an independent Poisson(1) weight per replicate,
      // so all B replicates are B weighted sums computed in ONE scan —
      // the only formulation that bootstraps 100 TB. Weights come from
      // an inverse-CDF ladder on an md5-uniform (engine-portable, no RNG
      // state, snapshot-stable); the replicate means are exact-integer
      // ratios; the 90% CI is RANK-SELECTED from the 32 replicate means
      // (2nd and 31st order statistics) — no interpolation.
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("len"))
        .localCheckpoint()
      val reps = docs.select(col("doc_id"), col("len"),
          explode(sequence(lit(0), lit(BootReps - 1))).as("b"))
        .withColumn("u",
          conv(substring(md5(concat(lit("bs:"), col("doc_id"), lit(":"),
            col("b"))), 1, 12), 16, 10).cast("long")
            / lit(281474976710656.0))
      val wLadder = PoisCdf.zipWithIndex.reverse
        .foldLeft(lit(PoisCdf.length.toLong)) { case (acc, (t, i)) =>
          when(col("u") < lit(t.toDouble), lit(i.toLong)).otherwise(acc)
        }
      val bm = reps.withColumn("w", wLadder)
        .groupBy(col("b"))
        .agg(sum(col("w") * col("len")).cast("long").as("swl"),
          sum(col("w")).cast("long").as("sw"))
        .filter(col("sw") > 0)
        .withColumn("m", col("swl").cast("double") / col("sw"))
        .withColumn("qm", floor(col("m") * 1e6 + 0.5).cast("long"))
      val wRank = Window.orderBy(col("qm"), col("b"))
      val ranked = bm.withColumn("rn", row_number().over(wRank))
        .localCheckpoint()
      val lo = ranked.filter(col("rn") === 2).select(col("m").as("lo"))
      val hi = ranked.filter(col("rn") === BootReps - 1)
        .select(col("m").as("hi"))
      val nr = ranked.agg(count(lit(1)).as("n_replicates"))
      docs.agg(count(lit(1)).as("n_docs"),
          sum(col("len")).cast("long").as("sl"))
        .crossJoin(broadcast(nr)).crossJoin(broadcast(lo))
        .crossJoin(broadcast(hi))
        .select(col("n_docs"), col("n_replicates"),
          detRound(col("sl") / col("n_docs"), 6).as("mean"),
          detRound(col("lo"), 6).as("ci_lo"),
          detRound(col("hi"), 6).as("ci_hi"))
    }),

    "x_robust_stats" -> ((s, d) => {
      // median/MAD outlier detection per event_type (the robust
      // alternative to mean±3σ — a single fat-fingered value moves the
      // mean arbitrarily but not the median). Median = lower median by
      // rank selection; MAD = lower median of |v − med|; outlier cut =
      // 3 · 1.4826 · MAD (the Gaussian-consistent scale factor).
      // Both medians select from the grouped (type, value) HISTOGRAM —
      // the value at rank (n+1) div 2 is the min value whose cumulative
      // count reaches that rank — so no window ever sees raw event rows
      // (a per-type row_number puts every event of a type on one
      // partition; a type's volume is unbounded at 100 TB while its
      // distinct-value support is not). The selection indexes are
      // integers; the only float ops are the final scalar comparisons,
      // identical per row in both engines.
      val ev = t(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .localCheckpoint()
      val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      def lowerMedian(df: DataFrame, v: String, out: String) =
        lowerMedianBy(df.groupBy(col("event_type"), col(v))
          .agg(count(lit(1)).as("__c")), "event_type", v, "__c", n, "n", out)
      val med = lowerMedian(ev, "value", "med")
      val withDev = ev.join(broadcast(med), "event_type")
        .withColumn("ad", abs(col("value") - col("med")))
        .localCheckpoint()
      val mad = lowerMedian(withDev, "ad", "mad")
      withDev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          detRound(max(col("med")), 6).as("median"),
          detRound(max(col("mad")), 6).as("mad"),
          sum(when(col("ad") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L)).cast("long").as("n_outliers"))
        .withColumn("outlier_frac", detRound(col("n_outliers") / col("n"), 6))
        .orderBy("event_type")
    }),

    "x_forecast_backtest" -> ((s, d) => {
      // forecaster model selection by BACKTEST — the eval loop that
      // belongs next to x_holt_forecast/x_ewma_anomaly: replay three
      // one-step forecasters (naive y_{t-1}, seasonal-naive y_{t-7},
      // trailing-7 mean) over each priority's last 28 observed days and
      // rank them by MAE. Everything is integer-exact: the mean-7
      // residual is kept as |7y − Σ₇| and the cross-method comparison
      // multiplies the integer error sums onto the common ×7
      // denominator, so the winner flag is an integer argmin (ties →
      // method name) — no float accumulates anywhere before the final
      // display division. Plan: windows run over the grouped daily
      // table (priority-partitioned, span-bounded), the method unpivot
      // is a 3-row generate per priority. The is_best column is the
      // deliverable: which forecaster earns the anomaly-chart seat for
      // THIS series, measured, not assumed.
      val w = Window.partitionBy("priority").orderBy("day")
      val wDesc = Window.partitionBy("priority").orderBy(desc("day"))
      val daily = priorityDaily(s, d)
      val feat = daily
        .withColumn("l1", lag(col("y"), 1).over(w))
        .withColumn("l7", lag(col("y"), 7).over(w))
        .withColumn("s7", sum(col("y")).over(w.rowsBetween(-7, -1)))
        .withColumn("rn", row_number().over(w))
        .withColumn("rnd", row_number().over(wDesc))
        .filter(col("rn") > 7 && col("rnd") <= 28)
      val m = feat.groupBy(col("priority")).agg(
        count(lit(1)).as("n_days"),
        sum(abs(col("y") - col("l1"))).cast("long").as("e_naive"),
        sum(abs(col("y") - col("l7"))).cast("long").as("e_snaive"),
        sum(abs(lit(7L) * col("y") - col("s7"))).cast("long").as("e_mean7"))
      val wBest = Window.partitionBy("priority")
        .orderBy(asc("num"), asc("method"))
      m.select(col("priority"), col("n_days"), explode(array(
          struct(lit("naive").as("method"),
            (col("e_naive") * 7).as("num")),
          struct(lit("snaive").as("method"),
            (col("e_snaive") * 7).as("num")),
          struct(lit("mean7").as("method"), col("e_mean7").as("num"))))
          .as("e"))
        .select(col("priority"), col("e.method").as("method"),
          col("n_days"), col("e.num").as("num"))
        .withColumn("is_best", row_number().over(wBest) === 1)
        .select(col("priority"), col("method"), col("n_days"),
          detRound(col("num") / (lit(7.0) * col("n_days")), 4).as("mae"),
          col("is_best"))
        .orderBy("priority", "method")
    }),

    "x_mann_kendall" -> ((s, d) => {
      // Mann-Kendall nonparametric trend test over each priority's
      // daily order-count series — the distribution-free companion to
      // x_ols_trend (no linearity or normality assumed; the statistic
      // only reads SIGNS of pairwise differences, so the heavy ties in
      // a small-count daily series demand the tie-corrected variance,
      // which this computes exactly). All integer until the final z:
      // S = Σ_{i<j} sign(y_j − y_i) from a pairwise self-join,
      // var_num = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) from the value
      // histogram; z = (S ∓ 1)/sqrt(var_num/18) is one IEEE sqrt of an
      // identical integer ratio in both engines, rounded only for
      // display. Scale: the self-join is O(days²) PER SERIES — bounded
      // by the calendar, not by row volume (100× the data is the same
      // ~2.4k days, just bigger y's), so the quadratic pair table stays
      // a few million rows forever while the orders scan underneath
      // aggregates map-side to one row per (priority, day) first.
      val daily = priorityDaily(s, d)
      val pairs = daily.alias("a").join(daily.alias("b"),
          col("a.priority") === col("b.priority") &&
            col("a.day") < col("b.day"))
        .groupBy(col("a.priority").as("priority"))
        .agg(sum(when(col("b.y") > col("a.y"), 1L)
          .when(col("b.y") < col("a.y"), -1L).otherwise(0L))
          .cast("long").as("s_stat"))
      val n = daily.groupBy(col("priority"))
        .agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy(col("priority"), col("y"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("priority"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
          .cast("long").as("tie_term"))
      val z = when(col("s_stat") > 0, (col("s_stat") - 1) /
          sqrt(col("var_num") / lit(18.0)))
        .when(col("s_stat") < 0, (col("s_stat") + 1) /
          sqrt(col("var_num") / lit(18.0)))
        .otherwise(lit(0.0))
      n.join(pairs, Seq("priority")).join(ties, Seq("priority"))
        .withColumn("var_num",
          (col("n_days") * (col("n_days") - 1) *
            (lit(2L) * col("n_days") + 5) - col("tie_term"))
            .cast("long"))
        .select(col("priority"), col("n_days"), col("s_stat"),
          col("var_num"), detRound(z, 4).as("z"),
          when(z > 1.96, "increasing").when(z < -1.96, "decreasing")
            .otherwise("no_trend").as("trend"))
        .orderBy("priority")
    }),

    "x_seasonal_mann_kendall" -> ((s, d) => {
      // Seasonal Mann-Kendall (Hirsch & Slack, WRR 1984) — the trend
      // test x_mann_kendall SHOULD be when the series has a seasonal
      // cycle: comparing a December to a July reads the seasonal swing
      // as trend (or cancels a real one). Pairs are formed only WITHIN
      // a season (month-of-year across years: all Januaries form one
      // subseries), S = Σ_seasons S_s, and the variance is additive
      // across seasons with each season's tie-corrected term computed
      // exactly as in the plain test. All integer until one final z;
      // var_num > 0 guarded before the sqrt (the degenerate
      // one-day-per-season calendar yields NULL, both engines). Scale:
      // the pairwise self-join is O(Σ_s n_s²) per series — ~12× FEWER
      // pairs than plain MK on the same calendar (each season is ~n/12
      // long), still bounded by the calendar, never by row volume.
      val daily = priorityDaily(s, d)
        .withColumn("ssn", month(col("day")))
        .localCheckpoint()
      val pairs = daily.alias("a").join(daily.alias("b"),
          col("a.priority") === col("b.priority") &&
            col("a.ssn") === col("b.ssn") &&
            col("a.day") < col("b.day"))
        .groupBy(col("a.priority").as("priority"))
        .agg(sum(when(col("b.y") > col("a.y"), 1L)
          .when(col("b.y") < col("a.y"), -1L).otherwise(0L))
          .cast("long").as("s_stat"))
      val per = daily.groupBy(col("priority"), col("ssn"))
        .agg(count(lit(1)).as("ns"))
      val ties = daily.groupBy(col("priority"), col("ssn"), col("y"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("priority"), col("ssn"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
          .cast("long").as("tie_s"))
      val varp = per.join(ties, Seq("priority", "ssn"))
        .withColumn("v_s",
          (col("ns") * (col("ns") - 1) * (lit(2L) * col("ns") + 5)
            - col("tie_s")).cast("long"))
        .groupBy(col("priority"))
        .agg(sum(col("v_s")).cast("long").as("var_num"),
          sum(col("ns")).cast("long").as("n_days"),
          count(lit(1)).as("n_seasons"))
      val zc = when(col("var_num") > 0,
        when(col("s_stat") > 0,
          (col("s_stat") - 1) / sqrt(col("var_num") / lit(18.0)))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1) / sqrt(col("var_num") / lit(18.0)))
          .otherwise(lit(0.0)))
      varp.join(pairs, Seq("priority"))
        .select(col("priority"), col("n_days"), col("n_seasons"),
          col("s_stat"), col("var_num"), detRound(zc, 4).as("z"),
          when(zc > 1.96, "increasing").when(zc < -1.96, "decreasing")
            .when(zc.isNotNull, "no_trend").as("trend"))
        .orderBy("priority")
    }),

    "x_ols_multi" -> ((s, d) => {
      // TWO-feature OLS (x_ols_trend is simple regression): predict an
      // order's total price (integer cents) from its line count and
      // total quantity — the closed-form normal-equations solve on the
      // 2×2 scaled central moment matrix M_ab = n·S_ab − S_a·S_b, which
      // needs only the 10 sufficient statistics. Same discipline as
      // x_ols_trend: per-row-bounded x statistics accumulate in LONG
      // (safe past 1e12 rows — x1 ≤ line count per order, x2 ≤ total
      // qty per order), every y-involving statistic in DECIMAL (cents
      // grow with volume), then each EXACT statistic casts to double
      // once and both engines run the identical IEEE closed form. The
      // statistics partial-aggregate map-side; the solve is one row.
      val per = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("x1"),
          sum(col("l_quantity").cast("long")).cast("long").as("x2"))
      val xy = t(s, d, "orders")
        .select(col("o_orderkey").as("ok"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("y"))
        .join(per, "ok")
      val st = xy.agg(
        count(lit(1)).as("ni"),
        sum(col("x1")).cast("long").as("sx1i"),
        sum(col("x2")).cast("long").as("sx2i"),
        sum(col("y").cast("decimal(28,0)")).as("syi"),
        sum(col("x1") * col("x1")).cast("long").as("sx11i"),
        sum(col("x1") * col("x2")).cast("long").as("sx12i"),
        sum(col("x2") * col("x2")).cast("long").as("sx22i"),
        sum((col("x1") * col("y")).cast("decimal(30,0)")).as("sx1yi"),
        sum((col("x2") * col("y")).cast("decimal(32,0)")).as("sx2yi"),
        sum(col("y").cast("decimal(19,0)")
          * col("y").cast("decimal(19,0)")).as("syyi"))
      val dn = col("ni").cast("double")
      def D(c: String) = col(c + "i").cast("double")
      st
        .withColumn("m11", dn * D("sx11") - D("sx1") * D("sx1"))
        .withColumn("m12", dn * D("sx12") - D("sx1") * D("sx2"))
        .withColumn("m22", dn * D("sx22") - D("sx2") * D("sx2"))
        .withColumn("m1y", dn * D("sx1y") - D("sx1") * D("sy"))
        .withColumn("m2y", dn * D("sx2y") - D("sx2") * D("sy"))
        .withColumn("myy", dn * D("syy") - D("sy") * D("sy"))
        .withColumn("det",
          col("m11") * col("m22") - col("m12") * col("m12"))
        .withColumn("b1",
          (col("m22") * col("m1y") - col("m12") * col("m2y")) / col("det"))
        .withColumn("b2",
          (col("m11") * col("m2y") - col("m12") * col("m1y")) / col("det"))
        .select(col("ni").as("n_orders"),
          detRound((D("sy") - col("b1") * D("sx1") - col("b2") * D("sx2"))
            / dn, 4).as("b0_cents"),
          detRound(col("b1"), 4).as("b1_cents_per_line"),
          detRound(col("b2"), 4).as("b2_cents_per_qty"),
          detRound((col("b1") * col("m1y") + col("b2") * col("m2y"))
            / col("myy"), 6).as("r2"))
    }),

    "x_ols_trend" -> ((s, d) => {
      // per-priority order-volume trend: OLS slope/intercept/R² of daily
      // order counts against the day index, computed ENTIRELY from the
      // five integer sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) —
      // the textbook closed form needs no float accumulation anywhere,
      // which is also why it scales: the statistics partial-aggregate
      // map-side, the closed form runs on k rows. x is days since the
      // corpus start, y the day's order count.
      val daily = priorityDaily(s, d)
      val mn = daily.agg(min(col("day")).as("d0"))
      val xy = daily.crossJoin(broadcast(mn))
        .withColumn("x", datediff(col("day"), col("d0")).cast("long"))
      // x is a CALENDAR index (bounded by the corpus day span, ~1e4 at any
      // data volume) so sx/sxx stay long-safe forever; y is rows/day and
      // GROWS with volume, so every y-involving statistic accumulates in
      // DECIMAL (exact, partial-aggregatable, overflow-free to 1e38 —
      // Spark's long sum would wrap silently where DuckDB raises). The
      // closed form then casts EACH exact statistic to double and does
      // identical IEEE double arithmetic on both engines: exact-integer →
      // double rounds identically, so the hash compare survives any SF.
      val dN = col("n").cast("double");   val dSx = col("sx").cast("double")
      val dSy = col("sy").cast("double"); val dSxy = col("sxy").cast("double")
      val dSxx = col("sxx").cast("double"); val dSyy = col("syy").cast("double")
      xy.groupBy(col("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("long").as("sx"),
          sum(col("y").cast("decimal(20,0)")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(24,0)")).as("sxy"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("y").cast("decimal(19,0)")
            * col("y").cast("decimal(19,0)")).as("syy"))
        .withColumn("slope",
          (dN * dSxy - dSx * dSy) / (dN * dSxx - dSx * dSx))
        .withColumn("intercept", (dSy - col("slope") * dSx) / dN)
        .withColumn("r2",
          ((dN * dSxy - dSx * dSy) * (dN * dSxy - dSx * dSy))
            / ((dN * dSxx - dSx * dSx) * (dN * dSyy - dSy * dSy)))
        .select(col("priority"), col("n").as("n_days"),
          detRound(col("slope"), 6).as("slope"),
          detRound(col("intercept"), 6).as("intercept"),
          detRound(col("r2"), 6).as("r2"))
        .orderBy("priority")
    }),

    "x_ewma_anomaly" -> ((s, d) => {
      // EWMA control chart over daily order volume per priority — the
      // drift/burst detector a feed-monitoring pipeline runs on ingest
      // counts (CUSUM's x_cusum_changepoint finds level SHIFTS; the EWMA
      // chart flags single anomalous days against a smoothed forecast).
      // For each observed day: forecast = Σ w_i·y_{t-i} / Σ w_i over the
      // 40 preceding observed days (generated lag ladder — a narrow
      // window over an ALREADY-AGGREGATED daily table, thousands of rows
      // per priority at any corpus size, so the per-row 40-term
      // expression is codegen'd and scale-free); variance from the same
      // ladder on y², z = (y − ewma)/sqrt(var + 1) (+1 ridge so constant
      // histories don't divide by zero). Top-10 |z| days reported.
      val w = Window.partitionBy("priority").orderBy("day")
      val daily = priorityDaily(s, d)
      def lagY(i: Int) = lag(col("y"), i).over(w)
      val num2 = (1 to EwmaLags).map(i =>
        when(lagY(i).isNotNull,
          floor(lagY(i).cast("double") * lagY(i) * lit(ewmaW(i)) * 1e9
            + 0.5).cast("long"))
          .otherwise(0L)).reduce(_ + _)
      daily
        .withColumn("nq", ladderNum(lagY, ewmaW)).withColumn("nq2", num2)
        .withColumn("dq", ladderDen(lagY, ewmaQW))
        .filter(col("dq") > 0)
        .withColumn("ewma",
          col("nq").cast("double") / col("dq").cast("double"))
        .withColumn("vr", greatest(
          col("nq2").cast("double") / col("dq").cast("double")
            - col("ewma") * col("ewma"), lit(0.0)))
        .withColumn("z", (col("y") - col("ewma"))
          / sqrt(col("vr") + lit(1.0)))
        .withColumn("qz", floor(abs(col("z")) * 1e6 + 0.5).cast("long"))
        .orderBy(desc("qz"), asc("priority"), asc("day"))
        .limit(10)
        .select(col("priority"), graft.types.Coercions.fmtD(col("day"))
          .as("day"), col("y"), detRound(col("ewma"), 6).as("ewma"),
          detRound(col("z"), 6).as("z"))
    }),

    "x_holt_forecast" -> ((s, d) => {
      // Trend-adjusted one-step forecast (Brown's double exponential
      // smoothing) over daily order volume per priority — the EWMA
      // chart's sibling for TRENDING series, where a level-only forecast
      // lags a ramp systematically. Brown's recursion S2 = EWMA(EWMA(y))
      // expands to a SINGLE weighted sum (S2_t = α²Σ m·β^(m-1)·y_{t-m}),
      // so both smoothings come from one generated lag ladder over the
      // already-aggregated daily table, normalized per-row over the
      // present lags exactly like x_ewma_anomaly (same truncation, same
      // 1e9 fixed-point quantization, same scale posture: thousands of
      // grouped rows per priority at any corpus size, all codegen'd).
      // Forecast F = 2·S1 − S2 + (α/β)(S1 − S2) — the Brown trend
      // correction with α = 1−β; residual = y − F. The top-10 |residual|
      // days are where the trend-adjusted model was most surprised —
      // flagged ramps-breaks rather than the EWMA chart's level spikes.
      val w = Window.partitionBy("priority").orderBy("day")
      val daily = priorityDaily(s, d)
      def lagY(i: Int) = lag(col("y"), i).over(w)
      val (num1, den1) = (ladderNum(lagY, ewmaW), ladderDen(lagY, ewmaQW))
      val (num2, den2) = (ladderNum(lagY, brownW), ladderDen(lagY, brownQW))
      val trendGain = (1.0 - EwmaAlpha) / EwmaAlpha // α/β with β = decay
      daily
        .withColumn("n1", num1).withColumn("d1", den1)
        .withColumn("n2", num2).withColumn("d2", den2)
        .filter(col("d1") > 0 && col("d2") > 0)
        .withColumn("s1", col("n1").cast("double") / col("d1").cast("double"))
        .withColumn("s2", col("n2").cast("double") / col("d2").cast("double"))
        .withColumn("f", lit(2.0) * col("s1") - col("s2")
          + lit(trendGain) * (col("s1") - col("s2")))
        .withColumn("resid", col("y") - col("f"))
        .withColumn("qr", floor(abs(col("resid")) * 1e6 + 0.5).cast("long"))
        .orderBy(desc("qr"), asc("priority"), asc("day"))
        .limit(10)
        .select(col("priority"), graft.types.Coercions.fmtD(col("day"))
          .as("day"), col("y"), detRound(col("f"), 6).as("forecast"),
          detRound(col("resid"), 6).as("resid"))
    }),

    "x_theil_u_forecast" -> ((s, d) => {
      // Theil's U₂ forecast-accuracy ratio (Theil 1966) for the SES
      // ladder one-step forecast of monthly revenue vs the naive
      // no-change forecast, scored over the last 12 months: U₂ =
      // √(Σ(f_t − y_t)² / Σ(y_{t−1} − y_t)²). U₂ < 1 is the only
      // verdict that says a forecasting model EARNS ITS KEEP — beating
      // naive is the bar every published forecast comparison uses, and
      // none of the ladder family ops (ewma/holt/croston) report it.
      // The forecast is the same truncated 40-lag EwmaAlpha ladder as
      // x_ewma_anomaly (ladderNum/ladderDen, per-term 1e9
      // quantization), applied to the O(months) grouped revenue series
      // IN MILLIONS — U₂ is scale-invariant and the normalization keeps
      // the shared ladder's y·w·1e9 fixed-point terms inside BIGINT at
      // any corpus size (monthly revenue in raw units crosses the long
      // range near sf≈3); the divided series is the same exact double
      // in both engines. Each squared error is 1e6-quantized before its
      // DECIMAL sum, so U₂ is one sqrt of a ratio of exact sums.
      // Windows run over the grouped monthly table only — bounded at
      // any corpus size.
      val w = Window.orderBy("mth")
      val monthly = monthlyRevMil(s, d)
      def lagR(i: Int) = lag(col("r"), i).over(w)
      val nm = monthly.agg(count(lit(1)).cast("long").as("n_months"))
      val scored = monthly
        .withColumn("nq", ladderNum(lagR, ewmaW))
        .withColumn("dq", ladderDen(lagR, ewmaQW))
        .withColumn("prev", lag(col("r"), 1).over(w))
        .withColumn("rnd", row_number().over(Window.orderBy(desc("mth"))))
        .filter(col("rnd") <= 12 && col("dq") > 0 && col("prev").isNotNull)
        .withColumn("f",
          col("nq").cast("double") / col("dq").cast("double"))
        .select(
          floor((col("f") - col("r")) * (col("f") - col("r")) * 1e6
            + 0.5).cast("decimal(38,0)").as("qe"),
          floor((col("prev") - col("r")) * (col("prev") - col("r")) * 1e6
            + 0.5).cast("decimal(38,0)").as("qn"))
        .agg(count(lit(1)).cast("long").as("n_scored"),
          sum(col("qe")).as("se"), sum(col("qn")).as("sn"))
      scored.crossJoin(broadcast(nm))
        .withColumn("u2", when(col("sn").cast("double") > 0,
          sqrt(col("se").cast("double") / col("sn").cast("double"))))
        .select(col("n_months"), col("n_scored"),
          detRound(sqrt(col("se").cast("double") / 1e6
            / col("n_scored")), 6).as("rmse_model_mil"),
          detRound(sqrt(col("sn").cast("double") / 1e6
            / col("n_scored")), 6).as("rmse_naive_mil"),
          detRound(col("u2"), 6).as("u2_stat"),
          (col("u2") < 1.0).as("beats_naive"))
    }),

    "x_mase_forecast" -> ((s, d) => {
      // MASE — mean absolute scaled error (Hyndman & Koehler, IJF
      // 2006): the same SES-ladder one-step forecasts x_theil_u_forecast
      // scores, but on ABSOLUTE error scaled by the IN-SAMPLE one-step
      // naive MAE over the training prefix — the scale-free accuracy
      // metric the forecasting literature standardized on because it
      // is defined even when U₂'s denominators degenerate (a flat test
      // window) and it penalizes large errors linearly, not
      // quadratically. Reporting BOTH is the point: on this fixture
      // U₂ = 0.88 (beats naive on squared out-of-sample error) while
      // MASE > 1 (loses on absolute error against the calmer train
      // steps) — a model verdict one metric alone would get wrong.
      // Same shared monthly-millions series and ladderNum/ladderDen;
      // |e| terms 1e6-quantized before their DECIMAL sums; windows over
      // the O(months) grouped table only.
      val w = Window.orderBy("mth")
      val monthly = monthlyRevMil(s, d)
      def lagR(i: Int) = lag(col("r"), i).over(w)
      val nm = monthly.agg(count(lit(1)).cast("long").as("n_months"))
      val base = monthly
        .withColumn("nq", ladderNum(lagR, ewmaW))
        .withColumn("dq", ladderDen(lagR, ewmaQW))
        .withColumn("prev", lag(col("r"), 1).over(w))
        .withColumn("rnd", row_number().over(Window.orderBy(desc("mth"))))
      val sc = base
        .filter(col("rnd") <= 12 && col("dq") > 0)
        .withColumn("f",
          col("nq").cast("double") / col("dq").cast("double"))
        .select(floor(abs(col("f") - col("r")) * 1e6 + 0.5)
          .cast("decimal(38,0)").as("qe"))
        .agg(count(lit(1)).cast("long").as("n_scored"),
          sum(col("qe")).as("se"))
      val scl = base
        .filter(col("rnd") > 12 && col("prev").isNotNull)
        .select(floor(abs(col("r") - col("prev")) * 1e6 + 0.5)
          .cast("decimal(38,0)").as("qn"))
        .agg(count(lit(1)).cast("long").as("n_train_steps"),
          sum(col("qn")).as("sn"))
      sc.crossJoin(broadcast(scl)).crossJoin(broadcast(nm))
        .withColumn("mm",
          col("se").cast("double") / 1e6 / col("n_scored"))
        .withColumn("ms",
          col("sn").cast("double") / 1e6 / col("n_train_steps"))
        .withColumn("mase",
          when(col("ms") > 0, col("mm") / col("ms")))
        .select(col("n_months"), col("n_scored"), col("n_train_steps"),
          detRound(col("mm"), 6).as("mae_model_mil"),
          detRound(col("ms"), 6).as("scale_naive_mil"),
          detRound(col("mase"), 6).as("mase"),
          (col("mase") < 1.0).as("beats_naive"))
    }),

    "x_holt_winters" -> ((s, d) => {
      // Holt–Winters additive-SEASONAL forecast (weekly period) of daily
      // order volume per priority — x_holt_forecast's ladder extended
      // with the seasonal component: seasonal indices come from one
      // grouped pass (additive classical decomposition, s_dow =
      // mean(y | day-of-week) − mean(y) — the standard non-recursive HW
      // initialization), the series is deseasonalized, Brown's
      // level+trend ladder runs UNCHANGED on y − s_dow, and the
      // forecast re-seasonalizes as F = F′ + s_dow; residual = y − F.
      // The textbook recursive HW update serializes the scan; this
      // formulation is one window pass over the tiny daily table plus
      // two broadcast O(priorities×7) joins — thousands of grouped rows
      // per priority at any corpus size. dow is an integer
      // day-difference mod 7 (dayofweek() NUMBERING differs between
      // engines — Spark 1=Sun..7, DuckDB 0=Sun..6). Per-term 1e9
      // quantization inside the ladder as in x_holt_forecast; the
      // deseasonalized lag values are per-row-deterministic doubles
      // (integer sums divided once), so both engines floor identical
      // terms.
      val w = Window.partitionBy("priority").orderBy("day")
      val daily = priorityDaily(s, d)
        .withColumn("dow",
          pmod(datediff(col("day"), to_date(lit("1995-01-01"))), lit(7)))
      val sIdx = daily.groupBy("priority", "dow")
        .agg(count(lit(1)).as("nd"), sum(col("y")).cast("long").as("sd"))
      val sAll = daily.groupBy("priority")
        .agg(count(lit(1)).as("na"), sum(col("y")).cast("long").as("sa"))
      val des = daily
        .join(broadcast(sIdx), Seq("priority", "dow"))
        .join(broadcast(sAll), Seq("priority"))
        .withColumn("sdow", col("sd").cast("double") / col("nd")
          - col("sa").cast("double") / col("na"))
        .withColumn("yd", col("y") - col("sdow"))
      def lagYd(i: Int) = lag(col("yd"), i).over(w)
      val (num1, den1) = (ladderNum(lagYd, ewmaW), ladderDen(lagYd, ewmaQW))
      val (num2, den2) = (ladderNum(lagYd, brownW), ladderDen(lagYd, brownQW))
      val trendGain = (1.0 - EwmaAlpha) / EwmaAlpha
      des
        .withColumn("n1", num1).withColumn("d1", den1)
        .withColumn("n2", num2).withColumn("d2", den2)
        .filter(col("d1") > 0 && col("d2") > 0)
        .withColumn("s1",
          col("n1").cast("double") / col("d1").cast("double"))
        .withColumn("s2",
          col("n2").cast("double") / col("d2").cast("double"))
        .withColumn("f", lit(2.0) * col("s1") - col("s2")
          + lit(trendGain) * (col("s1") - col("s2")) + col("sdow"))
        .withColumn("resid", col("y") - col("f"))
        .withColumn("qr", floor(abs(col("resid")) * 1e6 + 0.5).cast("long"))
        .orderBy(desc("qr"), asc("priority"), asc("day"))
        .limit(10)
        .select(col("priority"), graft.types.Coercions.fmtD(col("day"))
          .as("day"), col("y"), detRound(col("sdow"), 6).as("seasonal"),
          detRound(col("f"), 6).as("forecast"),
          detRound(col("resid"), 6).as("resid"))
    }),

    "x_rank_correlation" -> ((s, d) => {
      // Spearman rank correlation between two per-doc quality signals
      // (unigram entropy vs doc length) — the "do our quality metrics
      // agree?" diagnostic run before combining signals into one filter.
      // Ranks are the (value, doc_id) total order, so d² sums are
      // INTEGERS and ρ = 1 − 6Σd²/(n(n²−1)) needs no FP accumulation at
      // all — the formula's one division is the only float op. (Pearson
      // on raw values would need order-sensitive float sums; Spearman on
      // rank-selected integers is the cross-engine-exact formulation.)
      // Each rank comes from globalRank's two-level decomposition —
      // distinct-value cumsum + per-value row_number — never an
      // unpartitioned window over the doc table itself.
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val c = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val dl = c.groupBy("doc_id").agg(sum(col("c")).cast("long").as("dl"))
      val ent = c.join(dl, "doc_id")
        .withColumn("q", floor(-((col("c") / col("dl"))
          * log(col("c") / col("dl"))) * 1e9 + 0.5).cast("long"))
        .groupBy("doc_id")
        .agg(max(col("dl")).as("len"), sum(col("q")).cast("long").as("h"))
      globalRank(globalRank(ent, "h", Seq("doc_id"), "rh"),
          "len", Seq("doc_id"), "rl")
        .withColumn("d2", (col("rh") - col("rl")) * (col("rh") - col("rl")))
        .agg(count(lit(1)).as("n"), sum(col("d2")).cast("long").as("sd2"))
        .select(col("n"),
          detRound(lit(1.0) - (lit(6.0) * col("sd2"))
            / (col("n") * (col("n") * col("n") - 1)), 6).as("spearman_rho"))
    }),

    "x_abc_analysis" -> ((s, d) => {
      // ABC / Pareto classification of suppliers by revenue (the 80/20
      // inventory rule the reference's ERP domain reports on): exact
      // decimal revenue per supplier, cumulative share over the
      // descending order, class A until 50% cumulative, B until 80%,
      // C after. The running sum is over fixed-point BIGINT revenue
      // units, so every prefix is exact — no float accumulation order.
      // One grouped pass + one global window over |suppliers| rows.
      val rev = supplierRevenue(s, d)
      val w = Window.orderBy(desc("rq"), asc("suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = rev.agg(sum(col("rq")).cast("long").as("tq"))
      rev.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("rq")).over(w).cast("long"))
        .withColumn("share", col("cum") / col("tq"))
        .withColumn("cls",
          when(col("share") <= 0.5, "A")
            .when(col("share") <= 0.8, "B").otherwise("C"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("rq")).cast("long").as("crq"),
          max(col("tq")).as("tq2"))
        .select(col("cls"), col("n_suppliers"),
          detRound(col("crq") / 1e4, 2).as("class_revenue"),
          detRound(col("crq") / col("tq2"), 6).as("revenue_share"))
        .orderBy("cls")
    }),

    "x_market_basket" -> ((s, d) => {
      // association-rule scoring over customer baskets (the Apriori
      // measurement layer): for supplier pairs bought by the same
      // customer, support = n12/N, confidence = n12/n1, and lift =
      // N·n12/(n1·n2), keeping pairs with support count ≥ 5 and
      // reporting the top-10 by lift. Counts are integers from one
      // pair fan-out grouped immediately (x_link_prediction's plan
      // shape); the three ratios are single scalar divisions.
      val e0 = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          col("l_suppkey").cast("long").as("sp"))
        .distinct()
        .localCheckpoint()
      val n1 = e0.groupBy("sp").agg(count(lit(1)).as("n1"))
      val nn = e0.select(col("c")).distinct().agg(count(lit(1)).as("nn"))
      val p = e0.select(col("c"), col("sp").as("s1"))
        .join(e0.select(col("c"), col("sp").as("s2")), "c")
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("n12"))
        .filter(col("n12") >= 5)
      p.join(broadcast(n1.select(col("sp").as("s1"), col("n1").as("na"))),
          "s1")
        .join(broadcast(n1.select(col("sp").as("s2"), col("n1").as("nb"))),
          "s2")
        .crossJoin(broadcast(nn))
        .select(col("s1"), col("s2"), col("n12"),
          detRound(col("n12") / col("nn"), 6).as("support"),
          detRound(col("n12") / col("na"), 6).as("confidence"),
          detRound((col("nn") * col("n12")).cast("double")
            / (col("na") * col("nb")), 6).as("lift"))
        .orderBy(desc("lift"), asc("s1"), asc("s2"))
        .limit(10)
    }),

    "x_frequent_itemsets" -> ((s, d) => {
      // Apriori frequent-itemset ladder (Agrawal & Srikant, VLDB 1994)
      // over brand-level order baskets at minsup 0.5%: level-1 items,
      // level-2 pairs generated from frequent ITEMS only, level-3
      // candidates generated from frequent PAIRS ((a,b) ⋈ (a,c) with
      // the (b,c) tail required frequent — downward closure) before any
      // any counting touches the baskets. At fixture scale the prune
      // takes the 2,300 possible triples to the frequent few dozen.
      // Complements x_market_basket, which SCORES given supplier pairs
      // (confidence/lift); this op MINES the levels.
      // No counting self-joins on the fact-grain (oid, item) table (a
      // 466 MB shuffle at sf0.1, growing linearly): each basket's
      // distinct-item set is collected into ONE sorted array (a single
      // fact-scale shuffle with map-side partial collect_set dedup), and
      // pair/triple combinations are generated PER ROW with higher-order
      // array functions — so the only thing the counting stages shuffle
      // is partially-aggregated (itemset → count) rows, O(candidates ×
      // partitions) regardless of corpus size. Per-basket fan-out is
      // C(w,3) with w = distinct frequent brands per order, bounded by
      // the order's line count (≤7 here, small in any ERP) — map-side
      // compute, never shuffled raw. Minsup stays a SUPPORT FRACTION
      // (0.5% of baskets), so every frequent level is bounded as the
      // corpus grows and the broadcast sides stay small by construction.
      val baskets = t(s, d, "lineitem")
        .select(col("l_orderkey").as("oid"), col("l_partkey"))
        .join(t(s, d, "part").select(col("p_partkey"),
          col("p_brand").as("item")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("oid"))
        .agg(sort_array(collect_set(col("item"))).as("items"))
        .localCheckpoint()
      val nb = baskets.agg(count(lit(1)).as("nb"))
      val s1 = baskets.select(explode(col("items")).as("item"))
        .groupBy("item").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(nb))
        .filter(col("cnt").cast("double") / col("nb") >= 0.005)
        .localCheckpoint()
      // frequent items as ONE broadcast array row; array_intersect keeps
      // the first argument's (sorted) order, so filtered baskets stay
      // sorted and a < b < c falls out of position alone
      val f1 = s1.agg(sort_array(collect_set(col("item"))).as("f1"))
      val bf = baskets
        .crossJoin(broadcast(f1))
        .select(col("oid"),
          array_intersect(col("items"), col("f1")).as("items"))
        .filter(size(col("items")) >= 2)
      val p2 = bf.select(explode(expr(
          """flatten(transform(items, (x, i) ->
             transform(slice(items, i + 2, size(items)),
               y -> struct(x AS a, y AS b))))""")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(nb))
        .filter(col("cnt").cast("double") / col("nb") >= 0.005)
        .localCheckpoint()
      val cand = p2.select(col("a"), col("b"))
        .join(p2.select(col("a"), col("b").as("c")), "a")
        .filter(col("b") < col("c"))
        .join(p2.select(col("a").as("b"), col("b").as("c")),
          Seq("b", "c"), "left_semi")
      // all 3-combinations per basket (y sits at 0-based i+1+j, so z
      // starts at 1-based i+j+3), pruned against the downward-closure
      // candidate set BEFORE the count shuffle — infrequent combos die
      // map-side in the broadcast semi-join
      val t3 = bf.filter(size(col("items")) >= 3)
        .select(explode(expr(
          """flatten(transform(items, (x, i) ->
             flatten(transform(slice(items, i + 2, size(items)), (y, j) ->
               transform(slice(items, i + j + 3, size(items)),
                 z -> struct(x AS a, y AS b, z AS c))))))""")).as("tr"))
        .select(col("tr.a").as("a"), col("tr.b").as("b"),
          col("tr.c").as("c"))
        .join(broadcast(cand), Seq("a", "b", "c"), "left_semi")
        .groupBy("a", "b", "c").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(nb))
        .filter(col("cnt").cast("double") / col("nb") >= 0.005)
      val l1 = s1.select(lit(1L).as("size"), col("item").as("itemset"),
        col("cnt"), col("nb"))
      val l2 = p2.select(lit(2L).as("size"),
        concat_ws("|", col("a"), col("b")).as("itemset"),
        col("cnt"), col("nb"))
      val l3 = t3.select(lit(3L).as("size"),
        concat_ws("|", col("a"), col("b"), col("c")).as("itemset"),
        col("cnt"), col("nb"))
      l1.unionByName(l2).unionByName(l3)
        .select(col("size"), col("itemset"),
          col("cnt").as("support_count"),
          detRound(col("cnt").cast("double") / col("nb"), 6)
            .as("support_frac"))
        .orderBy("size", "itemset")
    }),

    "x_bootstrap_median_ci" -> ((s, d) => {
      // the Poisson bootstrap generalized beyond linear statistics: a
      // 90% CI for the MEDIAN doc length. Each replicate's weighted
      // lower median is rank-selected from the (length → summed weight)
      // table — first value whose 2·cumweight ≥ total+1 — so every
      // quantity in the entire query is an INTEGER (weights, cumsums,
      // medians, the CI endpoints); nothing is interpolated and nothing
      // floats. Same one-scan structure as x_bootstrap_ci: the grouped
      // (replicate, length) table is B·|distinct lengths| rows, the
      // cumsum window runs per replicate over that SMALL table, never
      // over docs.
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("len"))
        .localCheckpoint()
      val wLadder = PoisCdf.zipWithIndex.reverse
        .foldLeft(lit(PoisCdf.length.toLong)) { case (acc, (t0, i)) =>
          when(col("u") < lit(t0.toDouble), lit(i.toLong)).otherwise(acc)
        }
      val byLen = docs.select(col("doc_id"), col("len"),
          explode(sequence(lit(0), lit(BootReps - 1))).as("b"))
        .withColumn("u",
          conv(substring(md5(concat(lit("bs:"), col("doc_id"), lit(":"),
            col("b"))), 1, 12), 16, 10).cast("long")
            / lit(281474976710656.0))
        .withColumn("w", wLadder)
        .groupBy(col("b"), col("len"))
        .agg(sum(col("w")).cast("long").as("wsum"))
        .filter(col("wsum") > 0)
        .localCheckpoint()
      val wCum = Window.partitionBy("b").orderBy("len")
        .rowsBetween(Window.unboundedPreceding, 0)
      val meds = byLen
        .withColumn("cum", sum(col("wsum")).over(wCum))
        .join(byLen.groupBy(col("b"))
          .agg(sum(col("wsum")).cast("long").as("tw")), "b")
        .filter(col("cum") * 2 >= col("tw") + 1)
        .groupBy(col("b")).agg(min(col("len")).as("m"))
        .localCheckpoint()
      val ranked = meds.withColumn("rn",
        row_number().over(Window.orderBy(col("m"), col("b"))))
      val lo = ranked.filter(col("rn") === 2).select(col("m").as("ci_lo"))
      val hi = ranked.filter(col("rn") === BootReps - 1)
        .select(col("m").as("ci_hi"))
      val nr = meds.agg(count(lit(1)).as("n_replicates"))
      val nD = docs.agg(count(lit(1)).as("n_docs"))
      // point median from the (len → count) histogram cumsum — the same
      // rank selection the replicates use, never a row_number over raw
      // docs (the value at rank (n+1) div 2 is the min len whose
      // cumulative count reaches that rank).
      val wLen = Window.orderBy("len")
        .rowsBetween(Window.unboundedPreceding, 0)
      val point = docs.groupBy(col("len")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wLen))
        .crossJoin(broadcast(nD))
        .filter(col("cum") >= expr("(n_docs + 1) div 2"))
        .agg(min(col("len")).as("median"))
      nD.crossJoin(broadcast(nr)).crossJoin(broadcast(point))
        .crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .select(col("n_docs"), col("n_replicates"), col("median"),
          col("ci_lo"), col("ci_hi"))
    }),

    "x_psi_drift" -> ((s, d) => {
      // Population Stability Index between the early (pre-1998) and late
      // order-value distributions — the model-monitoring drift metric
      // (PSI > 0.25 conventionally triggers retraining). Complements
      // x_source_divergence (JSD across SOURCES): PSI watches the same
      // population over TIME. Fixed-width value bins (map-side), +1/+B
      // Laplace smoothing so empty bins stay finite and DETERMINISTIC
      // (no epsilon constant to disagree on), per-bin terms quantized
      // 1e12 before the integer total. Two grouped counts + broadcast
      // closed form — scale-free.
      val o = t(s, d, "orders")
        .withColumn("era", when(year(col("o_orderdate")) < 1998, "ref")
          .otherwise("cur"))
        .withColumn("bin",
          least(floor(col("o_totalprice") / 50000), lit(9.0))
            .cast("long"))
      val counts = o.groupBy(col("bin")).agg(
        sum(when(col("era") === "ref", 1L).otherwise(0L)).cast("long")
          .as("n_ref"),
        sum(when(col("era") === "cur", 1L).otherwise(0L)).cast("long")
          .as("n_cur"))
      val tot = counts.agg(sum(col("n_ref")).cast("long").as("tr"),
        sum(col("n_cur")).cast("long").as("tc"))
      val terms = counts.crossJoin(broadcast(tot))
        .withColumn("p",
          (col("n_ref") + 1).cast("double") / (col("tr") + 10))
        .withColumn("q",
          (col("n_cur") + 1).cast("double") / (col("tc") + 10))
        .withColumn("qterm", floor((col("q") - col("p"))
          * log(col("q") / col("p")) * 1e12 + 0.5).cast("long"))
        .localCheckpoint()
      val tq = terms.agg(sum(col("qterm")).cast("long").as("qtot"))
      terms.crossJoin(broadcast(tq))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          detRound(col("p"), 6).as("ref_share"),
          detRound(col("q"), 6).as("cur_share"),
          detRound(col("qterm") / 1e12, 6).as("psi_term"),
          detRound(col("qtot") / 1e12, 6).as("psi_total"))
        .orderBy("bin")
    }),

    "x_tukey_hsd" -> ((s, d) => {
      // Tukey's HSD post-hoc after x_anova_oneway: the F-test says SOME
      // priority differs in mean order value; this runs all 10 pairwise
      // comparisons at the familywise 0.05 level via the studentized
      // range, q_ij = |ȳ_i − ȳ_j| / √(MSW/2 · (1/n_i + 1/n_j)), against
      // q_crit(k = 5, df = ∞) = 3.858 (Harter's table; the within
      // degrees of freedom are in the tens of thousands, so the
      // asymptotic row is the right one — stated, not assumed). Group
      // stats are the ANOVA's exact DECIMAL sufficient statistics from
      // one grouped pass; MSW sums 1e4-quantized per-group SSW; the
      // pairwise grid is k² = 25 rows.
      val g = priceMoments(s, d)
        .withColumn("ssw_g", col("syy").cast("double") / 1e4
          - col("sy").cast("double") * col("sy").cast("double")
            / col("n"))
        .localCheckpoint()
      val msw = g.agg(count(lit(1)).as("k"),
          sum(col("n")).cast("long").as("nn"),
          sum(floor(col("ssw_g") * 1e4 + 0.5).cast("decimal(38,0)"))
            .as("qssw"))
        .select((col("qssw").cast("double") / 1e4
          / (col("nn") - col("k"))).as("msw"))
      val a = g.select(col("grp").as("grp_a"), col("n").as("na"),
        col("sy").as("sya"))
      val b = g.select(col("grp").as("grp_b"), col("n").as("nb"),
        col("sy").as("syb"))
      a.join(b, col("grp_a") < col("grp_b"))
        .crossJoin(broadcast(msw))
        .withColumn("ma", col("sya").cast("double") / col("na"))
        .withColumn("mb", col("syb").cast("double") / col("nb"))
        .withColumn("se", sqrt(col("msw") / 2.0
          * (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
        .withColumn("q", abs(col("ma") - col("mb")) / col("se"))
        .select(col("grp_a"), col("grp_b"),
          detRound(col("ma"), 4).as("mean_a"),
          detRound(col("mb"), 4).as("mean_b"),
          detRound(col("ma") - col("mb"), 4).as("diff"),
          detRound(col("q"), 6).as("q_stat"),
          (col("q") > lit(3.858)).as("significant_05"))
        .orderBy("grp_a", "grp_b")
    }),

    "x_anova_oneway" -> ((s, d) => {
      // one-way ANOVA F-test of order value across priorities — completes
      // the engine's hypothesis-test family (χ² for categorical×categorical,
      // KS for distribution shape, z for proportions, F for a continuous
      // response across k groups). Sufficient statistics per group:
      // n, Σy as DECIMAL(18,4) (money-exact), Σy² as 1e4-fixed-point
      // DECIMAL(38,0) (a per-term double square is identical in both
      // engines; the SUM must be integer/decimal because float addition
      // order is not). SSB/SSW then run in double on the exact statistics
      // — identical IEEE ops on identical inputs. Map-side partial
      // aggregation all the way; k rows of state.
      val g = priceMoments(s, d)
      val tot = g.agg(count(lit(1)).as("k"),
        sum(col("n")).cast("long").as("nn"),
        sum(col("sy")).as("gy"))
      g.crossJoin(broadcast(tot))
        // per-group contribution, in double from exact stats:
        // SSW_g = Σy²_g − (Σy_g)²/n_g ; SSB_g = n_g·(ȳ_g − ȳ)²
        .withColumn("ssw_g",
          col("syy").cast("double") / 1e4
            - (col("sy").cast("double") * col("sy").cast("double"))
              / col("n"))
        .withColumn("ssb_g",
          col("n") * (col("sy").cast("double") / col("n")
            - col("gy").cast("double") / col("nn"))
            * (col("sy").cast("double") / col("n")
              - col("gy").cast("double") / col("nn")))
        .groupBy(col("k"), col("nn"))
        .agg(sum(floor(col("ssw_g") * 1e4 + 0.5).cast("decimal(38,0)"))
          .as("qssw"),
          sum(floor(col("ssb_g") * 1e4 + 0.5).cast("decimal(38,0)"))
            .as("qssb"))
        .withColumn("ssb", col("qssb").cast("double") / 1e4)
        .withColumn("ssw", col("qssw").cast("double") / 1e4)
        .withColumn("f_stat", detRound(
          (col("ssb") / (col("k") - 1))
            / (col("ssw") / (col("nn") - col("k"))), 6))
        .withColumn("eta_sq", detRound(
          col("ssb") / (col("ssb") + col("ssw")), 6))
        .select(col("k").as("n_groups"), col("nn").as("n_obs"),
          detRound(col("ssb"), 2).as("ss_between"),
          detRound(col("ssw"), 2).as("ss_within"),
          col("f_stat"), col("eta_sq"))
    }),

    "x_welch_anova" -> ((s, d) => {
      // Welch's heteroscedastic one-way ANOVA (Welch, Biometrika 1951)
      // of order value across priorities — the k-group generalization
      // of x_welch_ttest and the robust companion to x_anova_oneway,
      // whose pooled-variance F silently assumes homoscedasticity (the
      // assumption x_levene_variance TESTS; this is the op you run when
      // Levene rejects). Per-group sufficient statistics are the exact
      // n/Σy/Σy² trio (x_anova_oneway posture); the precision weights
      // w_j = n_j/v_j are quantized ONCE to 1e15 fixed point and every
      // cross-group sum (Σw, Σw·m, the numerator and λ terms) is a
      // DECIMAL(38,0) sum of per-term-quantized values, so both engines
      // run identical IEEE arithmetic on identical exact inputs. One
      // fact-table groupBy (map-side partials, shuffle = O(groups));
      // everything after is k rows. df2 = (k²−1)/(3λ), Welch's own
      // approximation. Zero-information guard: k ≤ 1 or λ = 0 emits
      // NULL stats (the x_rate_ratio discipline).
      val g = priceMoments(s, d)
        .filter(col("n") > 1)
        .withColumn("m", col("sy").cast("double") / col("n"))
        .withColumn("v",
          (col("syy").cast("double") / 1e4
            - col("sy").cast("double") * col("sy").cast("double")
              / col("n")) / (col("n") - 1))
        .filter(col("v") > 0)
        .withColumn("qw",
          floor(col("n") / col("v") * 1e15 + 0.5).cast("decimal(38,0)"))
        .withColumn("qwm", floor(col("n") / col("v") * col("m") * 1e15
          + 0.5).cast("decimal(38,0)"))
      val tots = g.agg(count(lit(1)).as("k"),
        sum(col("n")).cast("long").as("nn"),
        sum(col("qw")).as("sw"), sum(col("qwm")).as("swm"))
      g.crossJoin(broadcast(tots))
        .withColumn("mstar",
          col("swm").cast("double") / col("sw").cast("double"))
        .withColumn("qa", floor(col("qw").cast("double") / 1e15
          * (col("m") - col("mstar")) * (col("m") - col("mstar"))
          * 1e9 + 0.5).cast("decimal(38,0)"))
        .withColumn("u", lit(1.0)
          - col("qw").cast("double") / col("sw").cast("double"))
        .withColumn("qh", floor(col("u") * col("u") / (col("n") - 1)
          * 1e12 + 0.5).cast("decimal(38,0)"))
        .groupBy(col("k"), col("nn"))
        .agg(sum(col("qa")).as("sqa"), sum(col("qh")).as("sqh"))
        .withColumn("aa",
          col("sqa").cast("double") / 1e9 / (col("k") - 1))
        .withColumn("hh", col("sqh").cast("double") / 1e12)
        .withColumn("ok", col("k") > 1 && col("hh") > 0)
        .select(col("k").as("n_groups"), col("nn").as("n_obs"),
          detRound(when(col("ok"), col("aa") / (lit(1.0)
            + lit(2.0) * (col("k") - 2) / (col("k") * col("k") - 1)
              * col("hh"))), 6).as("f_stat"),
          (col("k") - 1).cast("long").as("df1"),
          detRound(when(col("ok"),
            (col("k") * col("k") - 1).cast("double")
              / (lit(3.0) * col("hh"))), 2).as("df2"))
    }),

    "x_proportion_ztest" -> ((s, d) => {
      // two-proportion z-test of purchase rates between the user_id
      // parity cohorts (the A/B-readout shape): pooled-variance z =
      // (p1 − p2) / √(p̂(1−p̂)(1/n1 + 1/n2)) from four integer counts;
      // |z| > 1.96 flags 5% significance. On the uniform synthetic
      // assignment the honest expectation is NO effect — the gauge's
      // value is that the machinery is exact, not that it finds one.
      val byUser = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("long").as("converted"))
        .withColumn("grp", pmod(col("user_id"), lit(2L)))
      val agg = byUser.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("converted")).cast("long")
          .as("k"))
        .localCheckpoint()
      val a = agg.filter(col("grp") === 0)
        .select(col("n").as("n1"), col("k").as("k1"))
      val b = agg.filter(col("grp") === 1)
        .select(col("n").as("n2"), col("k").as("k2"))
      a.crossJoin(b)
        .withColumn("p1", col("k1") / col("n1"))
        .withColumn("p2", col("k2") / col("n2"))
        .withColumn("pp", (col("k1") + col("k2")) / (col("n1") + col("n2")))
        .withColumn("z", (col("p1") - col("p2"))
          / sqrt(col("pp") * (lit(1.0) - col("pp"))
            * (lit(1.0) / col("n1") + lit(1.0) / col("n2"))))
        .select(col("n1"), col("k1"), col("n2"), col("k2"),
          detRound(col("p1"), 6).as("rate_a"),
          detRound(col("p2"), 6).as("rate_b"),
          detRound(col("z"), 6).as("z"),
          (abs(col("z")) > lit(1.96)).as("significant_05"))
    }),

    "x_cochran_armitage" -> ((s, d) => {
      // Cochran–Armitage trend test — does the RETURN RATE trend
      // monotonically with the ORDERED discount level? χ² independence
      // (x_chi2_independence) treats levels as unordered and wastes
      // the ordering; CA weights each level by its score (discount in
      // basis points, an exact integer) and tests the linear trend in
      // proportions. U = Σ s_i(k_i·N − n_i·K) and its variance are
      // pure integer algebra in DECIMAL/HUGEINT — the single division
      // and sqrt are the only float ops. One fact-table groupBy,
      // O(levels) after.
      val lv = t(s, d, "lineitem")
        .select(floor(col("l_discount") * 10000 + 0.5).cast("long")
          .as("sc"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy("sc")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
        .localCheckpoint()
      val tot = lv.agg(sum(col("n")).cast("long").as("nn"),
        sum(col("k")).cast("long").as("kk"),
        count(lit(1)).as("n_levels"))
      lv.crossJoin(broadcast(tot))
        .groupBy("nn", "kk", "n_levels")
        .agg(
          sum((col("sc").cast("decimal(38,0)") *
            (col("k").cast("decimal(38,0)") * col("nn") -
              col("n").cast("decimal(38,0)") * col("kk")))).as("u"),
          sum(col("n").cast("decimal(38,0)") *
            col("sc").cast("decimal(38,0)") *
            col("sc").cast("decimal(38,0)")).as("nss"),
          sum(col("n").cast("decimal(38,0)") *
            col("sc").cast("decimal(38,0)")).as("ns"))
        .withColumn("vr",
          col("kk").cast("double") * (col("nn") - col("kk")) *
            (col("nn") * col("nss").cast("double") -
              col("ns").cast("double") * col("ns").cast("double")) /
            col("nn").cast("double"))
        .withColumn("z", col("u").cast("double") / sqrt(col("vr")))
        .select(col("n_levels"), col("nn").as("n_lines"),
          col("kk").as("n_returned"),
          detRound(col("z"), 6).as("z_trend"),
          (abs(col("z")) > lit(1.96)).as("significant_05"))
    }),

    "x_rate_ratio" -> ((s, d) => {
      // Poisson rate-ratio test for incident counts under unequal
      // exposure — the ops/SRE readout ("is the weekend error RATE
      // different, given fewer weekend days?") that a raw count
      // comparison gets wrong: RR = (c_a/T_a)/(c_b/T_b) with the Wald
      // log-CI exp(ln RR ± 1.96·√(1/c_a + 1/c_b)). Counts and
      // exposures (distinct observed days per cohort) are exact
      // integers from one grouped pass; the CI arithmetic is identical
      // IEEE on them.
      val ev = t(s, d, "events")
        .select(col("ts").cast("date").as("day"),
          (col("event_type") === "error").as("is_err"),
          (dayofweek(col("ts")).isin(1, 7)).as("weekend"))
      val g = ev.groupBy("weekend")
        .agg(sum(when(col("is_err"), 1L).otherwise(0L)).as("c"),
          countDistinct(col("day")).as("days"))
        .localCheckpoint()
      val a = g.filter(col("weekend"))
        .select(col("c").as("c_a"), col("days").as("days_a"))
      val b = g.filter(!col("weekend"))
        .select(col("c").as("c_b"), col("days").as("days_b"))
      // a zero count in either cohort makes ln(rr) / 1/c diverge — the
      // Wald CI is undefined there, so (like x_odds_ratio's all-zero
      // guard) emit NULL stats rather than engine-dependent ±inf.
      val ok = col("c_a") > 0 && col("c_b") > 0
      a.crossJoin(b)
        .withColumn("rr", when(ok,
          (col("c_a").cast("double") / col("days_a")) /
            (col("c_b").cast("double") / col("days_b"))))
        .withColumn("se", when(ok,
          sqrt(lit(1.0) / col("c_a") + lit(1.0) / col("c_b"))))
        .select(col("c_a"), col("days_a"), col("c_b"), col("days_b"),
          detRound(col("rr"), 6).as("rate_ratio"),
          detRound(exp(log(col("rr")) - lit(1.96) * col("se")), 6)
            .as("ci_lo"),
          detRound(exp(log(col("rr")) + lit(1.96) * col("se")), 6)
            .as("ci_hi"),
          when(ok,
            log(col("rr")) - lit(1.96) * col("se") > 0.0 ||
              log(col("rr")) + lit(1.96) * col("se") < 0.0)
            .as("excludes_one"))
    }),

    "x_decision_stump" -> ((s, d) => {
      // in-engine decision-stump training — the simplest supervised
      // learner after x_naive_bayes / x_quality_classifier: scan every
      // candidate quantity threshold for predicting a returned line and
      // pick the split with the largest Gini impurity reduction. The
      // entire search runs on the CUMULATIVE (n, positives) histogram
      // over the BOUNDED quantity domain (≤50 distinct values — the
      // x_pareto_front posture: windows over the grouped domain, never
      // raw rows); gains quantize at 1e9 and the argmax breaks ties to
      // the smaller threshold, so the trained stump is bit-identical
      // everywhere.
      val hist = t(s, d, "lineitem")
        .select(col("l_quantity").cast("long").as("q"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy("q")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
      val w = Window.orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = hist.agg(sum(col("n")).cast("long").as("nn"),
        sum(col("k")).cast("long").as("kk"))
      val scored = hist
        .withColumn("nl", sum(col("n")).over(w).cast("long"))
        .withColumn("kl", sum(col("k")).over(w).cast("long"))
        .crossJoin(broadcast(tot))
        .filter(col("nl") < col("nn")) // a split must leave a right side
        .withColumn("nr", col("nn") - col("nl"))
        .withColumn("kr", col("kk") - col("kl"))
        .withColumn("pl", col("kl").cast("double") / col("nl"))
        .withColumn("pr", col("kr").cast("double") / col("nr"))
        .withColumn("pp", col("kk").cast("double") / col("nn"))
        .withColumn("g_root",
          lit(2.0) * col("pp") * (lit(1.0) - col("pp")))
        .withColumn("g_split",
          (col("nl").cast("double") / col("nn")) *
            (lit(2.0) * col("pl") * (lit(1.0) - col("pl"))) +
            (col("nr").cast("double") / col("nn")) *
              (lit(2.0) * col("pr") * (lit(1.0) - col("pr"))))
        .withColumn("qgain",
          floor((col("g_root") - col("g_split")) * 1e9 + 0.5)
            .cast("long"))
        .localCheckpoint()
      val best = scored.agg(max(col("qgain")).as("qbest"))
      scored.crossJoin(broadcast(best))
        .filter(col("qgain") === col("qbest"))
        .groupBy("qbest")
        .agg(min(col("q")).as("split_q")) // tie → smaller threshold
        .join(scored, col("split_q") === scored("q"))
        .select(col("split_q").as("split_quantity_le"),
          col("nl").as("n_left"), col("nr").as("n_right"),
          detRound(col("pl"), 6).as("rate_left"),
          detRound(col("pr"), 6).as("rate_right"),
          detRound(col("g_root"), 6).as("gini_root"),
          detRound(col("g_split"), 6).as("gini_split"),
          detRound(col("qgain") / 1e9, 6).as("gain"))
    }),

    "x_mannwhitney_u" -> ((s, d) => {
      // Mann–Whitney U (Wilcoxon rank-sum) with tie-corrected normal
      // approximation — the distribution-free location test beside
      // x_welch_ttest (heavy-tailed money amounts violate t
      // assumptions; U only reads ranks). Everything runs on the
      // grouped (cent-value → per-arm count) histogram: doubling the
      // half-tie credit keeps 2U an exact integer
      // (2U = Σ c1·(2·below₀ + c0)), and the tie term Σ(t³−t) comes
      // from the same histogram — the only window is the exclusive
      // cumsum over distinct values (the x_ks_statistic posture).
      val (hist, tot) = armCentHist(s, d)
      hist
        .withColumn("t", col("c1") + col("c0"))
        .crossJoin(broadcast(tot))
        .groupBy("n1", "n0")
        .agg(
          sum((col("c1") * (lit(2L) * col("s0") + col("c0")))
            .cast("decimal(38,0)")).as("u2"),
          sum((col("t") * col("t") * col("t") - col("t"))
            .cast("decimal(38,0)")).as("st3"))
        .withColumn("nn", col("n1") + col("n0"))
        .withColumn("u", col("u2").cast("double") / 2.0)
        .withColumn("mu",
          col("n1").cast("double") * col("n0") / 2.0)
        .withColumn("vr",
          col("n1").cast("double") * col("n0") / 12.0 *
            ((col("nn") + 1) - col("st3").cast("double") /
              (col("nn").cast("double") * (col("nn") - 1))))
        .withColumn("z", (col("u") - col("mu")) / sqrt(col("vr")))
        .select(col("n1"), col("n0"),
          detRound(col("u"), 1).as("u_stat"),
          detRound(col("z"), 6).as("z_stat"),
          (abs(col("z")) > lit(1.96)).as("significant_05"))
    }),

    "x_kruskal_wallis" -> ((s, d) => {
      // Kruskal–Wallis rank ANOVA across order priorities — the
      // distribution-free k-sample companion to x_anova_oneway, with
      // the exact tie correction the cent-quantized money values need.
      // Average ranks stay integer by doubling (2·r̄ per value =
      // 2·below + t + 1), so each group's doubled rank sum is an exact
      // DECIMAL; per-group H terms quantize at 1e4 before the 5-term
      // sum (the x_pagerank discipline). Windows run only over the
      // grouped value histogram.
      val hist = priorityCentHist(s, d)
      val (_, sums, ties) = doubledRanks(hist, "grp", "qv")
      val gsum = sums.localCheckpoint()
      val tot = gsum.agg(count(lit(1)).as("k"),
        sum(col("ng")).cast("long").as("nn"))
      val terms = gsum.crossJoin(broadcast(tot))
        .select(col("k"), col("nn"),
          floor(col("r2g").cast("double") * col("r2g").cast("double") /
            4.0 / col("ng") * 1e4 + 0.5).cast("decimal(38,0)")
            .as("qterm"))
        .groupBy("k", "nn")
        .agg(sum(col("qterm")).as("qsum"))
      terms.crossJoin(broadcast(ties))
        .withColumn("h",
          lit(12.0) / (col("nn").cast("double") * (col("nn") + 1)) *
            (col("qsum").cast("double") / 1e4) -
            lit(3.0) * (col("nn") + 1))
        .withColumn("corr",
          lit(1.0) - col("st3").cast("double") /
            (col("nn").cast("double") * col("nn") * col("nn") -
              col("nn")))
        .select(col("k").as("n_groups"), col("nn").as("n_obs"),
          detRound(col("h"), 4).as("h_stat"),
          detRound(col("h") / col("corr"), 4).as("h_tie_corrected"),
          // chi-square df = k−1 = 4 at the fixture's 5 priorities
          (col("h") / col("corr") > lit(9.488)).as("reject_05"))
    }),

    "x_cliffs_delta" -> ((s, d) => {
      // Cliff's δ — the nonparametric effect size beside x_cohens_d
      // (d assumes comparable variances and reads means; δ reads pure
      // dominance: P(x>y) − P(x<y)): from the same two-sample value
      // histogram as x_mannwhitney_u, #(x>y) = Σ c1·below₀ and
      // #(x<y) = Σ c1·above₀, both exact DECIMAL sums, with the
      // Romano et al. magnitude bands. O(distinct values) after the
      // one grouped count.
      val (hist, tot) = armCentHist(s, d)
      hist
        .crossJoin(broadcast(tot))
        .withColumn("a0", col("n0") - col("s0") - col("c0"))
        .groupBy("n1", "n0")
        .agg(sum((col("c1") * col("s0")).cast("decimal(38,0)")).as("gt"),
          sum((col("c1") * col("a0")).cast("decimal(38,0)")).as("lt"))
        .withColumn("delta",
          (col("gt").cast("double") - col("lt").cast("double")) /
            (col("n1").cast("double") * col("n0")))
        .select(col("n1"), col("n0"),
          detRound(col("delta"), 6).as("cliffs_delta"),
          when(abs(col("delta")) < 0.147, "negligible")
            .when(abs(col("delta")) < 0.33, "small")
            .when(abs(col("delta")) < 0.474, "medium")
            .otherwise("large").as("magnitude"))
    }),

    "x_kendall_tau" -> ((s, d) => {
      // Kendall τ-b between two MEASURES of the monthly series
      // (revenue vs order count) — the rank-association complement to
      // x_rank_correlation's Spearman (τ has a direct probabilistic
      // reading, P(concordant) − P(discordant), and τ-b corrects for
      // ties in either measure). The pairs table is O(months²) of the
      // bounded aggregated series; every count is an exact integer and
      // the single division is the only float op.
      val monthly = t(s, d, "orders")
        .groupBy((year(col("o_orderdate")) * 12 +
          (month(col("o_orderdate")) - 1)).as("mi"))
        .agg(floor(dsum(col("o_totalprice")) * 100 + 0.5)
          .cast("long").as("rev"),
          count(lit(1)).cast("long").as("cnt"))
        .localCheckpoint()
      val a = monthly.select(col("mi").as("i"), col("rev").as("x1"),
        col("cnt").as("y1"))
      val b = monthly.select(col("mi").as("j"), col("rev").as("x2"),
        col("cnt").as("y2"))
      val pairs = a.join(b, col("i") < col("j"))
      pairs.agg(
          count(lit(1)).as("n_pairs"),
          sum(when((col("x2") > col("x1") && col("y2") > col("y1")) ||
            (col("x2") < col("x1") && col("y2") < col("y1")), 1L)
            .otherwise(0L)).cast("long").as("concordant"),
          sum(when((col("x2") > col("x1") && col("y2") < col("y1")) ||
            (col("x2") < col("x1") && col("y2") > col("y1")), 1L)
            .otherwise(0L)).cast("long").as("discordant"),
          sum(when(col("x2") === col("x1"), 1L).otherwise(0L))
            .cast("long").as("ties_x"),
          sum(when(col("y2") === col("y1"), 1L).otherwise(0L))
            .cast("long").as("ties_y"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          detRound((col("concordant") - col("discordant"))
            .cast("double") /
            sqrt((col("n_pairs") - col("ties_x")).cast("double") *
              (col("n_pairs") - col("ties_y")).cast("double")), 6)
            .as("tau_b"))
    }),

    "x_price_elasticity" -> ((s, d) => {
      // price elasticity of demand — the econometrics readout commerce
      // analytics ships: the OLS slope of ln(mean quantity per line)
      // on ln(effective price factor 1 − discount) across the bounded
      // discount levels, with R² as the fit gauge. On the synthetic
      // fixture quantity is independent of discount, so the HONEST
      // answer is ≈ 0 with low R² — the gauge's value is exactness of
      // the machinery (the x_proportion_ztest stance). Level means
      // come from DECIMAL-exact sums; logs quantize at 1e9 before
      // HUGEINT-exact regression moments. One fact-table groupBy,
      // O(levels) after.
      val lv = t(s, d, "lineitem")
        .groupBy(col("l_discount").as("disc"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,4)")).as("sq"))
        .select(col("n"),
          floor(log(lit(1.0) - col("disc")) * 1e9 + 0.5).cast("long")
            .as("qx"),
          floor(log(col("sq").cast("double") / col("n")) * 1e9 + 0.5)
            .cast("long").as("qy"))
      lv.agg(count(lit(1)).as("k"),
          sum(col("n")).cast("long").as("n_lines"),
          sum(col("qx").cast("decimal(38,0)")).as("sx"),
          sum(col("qy").cast("decimal(38,0)")).as("sy"),
          sum(col("qx").cast("decimal(38,0)") *
            col("qy").cast("decimal(38,0)")).as("sxy"),
          sum(col("qx").cast("decimal(38,0)") *
            col("qx").cast("decimal(38,0)")).as("sxx"),
          sum(col("qy").cast("decimal(38,0)") *
            col("qy").cast("decimal(38,0)")).as("syy"))
        .withColumn("num",
          col("k") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double"))
        .withColumn("denx",
          col("k") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"))
        .withColumn("deny",
          col("k") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))
        .select(col("k").as("n_levels"), col("n_lines"),
          detRound(col("num") / col("denx"), 4).as("elasticity"),
          detRound(col("num") * col("num") /
            (col("denx") * col("deny")), 6).as("r2"))
    }),

    "x_cohens_d" -> ((s, d) => {
      // standardized effect size per segment — the number a
      // significance test does NOT give you: at fixture scale the
      // Welch t (x_welch_ttest) can be "significant" for effects too
      // small to matter, so experimentation readouts ship d alongside
      // p. Pooled-SD Cohen's d from the same exact DECIMAL sufficient
      // statistics as the t-test, plus Hedges' g small-sample
      // correction g = d·(1 − 3/(4N−9)) and the conventional magnitude
      // band. One fact-table groupBy, O(segments) after.
      val g = armMoments(s, d)
        .withColumn("sp", sqrt(
          ((col("n1") - 1) * col("v1") + (col("n0") - 1) * col("v0")) /
            (col("n1") + col("n0") - 2)))
        .withColumn("dd", (col("m1") - col("m0")) / col("sp"))
        .withColumn("gg", col("dd") *
          (lit(1.0) - lit(3.0) /
            (lit(4.0) * (col("n1") + col("n0")) - 9)))
      g.select(col("grp"), col("n1"), col("n0"),
          detRound(col("dd"), 6).as("cohens_d"),
          detRound(col("gg"), 6).as("hedges_g"),
          when(abs(col("dd")) < 0.2, "negligible")
            .when(abs(col("dd")) < 0.5, "small")
            .when(abs(col("dd")) < 0.8, "medium")
            .otherwise("large").as("magnitude"))
        .orderBy("grp")
    }),

    "x_runs_test" -> ((s, d) => {
      // Wald–Wolfowitz runs test on the SIGNS of month-over-month
      // revenue changes — the randomness check behind trend claims: too
      // FEW runs of ups/downs means momentum (trending), too many means
      // mean-reversion; a z within ±1.96 is consistent with independent
      // fluctuation. The series is the bounded monthly aggregate
      // (~80 rows at any data scale); runs count via one lag window
      // over it, ties (zero diffs) dropped per the classic
      // formulation. R's moments under H₀ are rational functions of
      // the exact up/down counts — identical IEEE doubles.
      val w = Window.orderBy("mi")
      val diffs = t(s, d, "orders")
        .groupBy((year(col("o_orderdate")) * 12 +
          (month(col("o_orderdate")) - 1)).as("mi"))
        .agg(floor(dsum(col("o_totalprice")) * 100 + 0.5)
          .cast("long").as("rev_c"))
        .withColumn("diff", col("rev_c") - lag("rev_c", 1).over(w))
        .filter(col("diff").isNotNull && col("diff") =!= 0)
        .withColumn("up", (col("diff") > 0).cast("long"))
        .withColumn("chg",
          when(lag("up", 1).over(w).isNull, 1L)
            .when(lag("up", 1).over(w) =!= col("up"), 1L)
            .otherwise(0L))
      diffs.agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("up")).cast("long").as("n_up"),
          sum(lit(1L) - col("up")).cast("long").as("n_down"),
          sum(col("chg")).cast("long").as("runs"))
        .withColumn("mu",
          lit(2.0) * col("n_up") * col("n_down") / col("n") + 1.0)
        .withColumn("s2",
          (lit(2.0) * col("n_up") * col("n_down") *
            (lit(2.0) * col("n_up") * col("n_down") - col("n"))) /
            (col("n").cast("double") * col("n") * (col("n") - 1)))
        .withColumn("z", (col("runs") - col("mu")) / sqrt(col("s2")))
        .select(col("n").as("n_changes"), col("n_up"), col("n_down"),
          col("runs"),
          detRound(col("mu"), 4).as("expected_runs"),
          detRound(col("z"), 6).as("z_stat"),
          (abs(col("z")) > lit(1.96)).as("reject_random_05"))
    }),

    "x_wasserstein_1d" -> ((s, d) => {
      // 1-D Wasserstein (earth-mover) distance between the doc-length
      // distributions of the even/odd doc cohorts — the drift metric
      // that sees what KS and PSI miss: KS reports only the WORST
      // vertical CDF gap and PSI only binned ratios, while W₁ =
      // ∫|F₁−F₂|dx integrates both how often and how FAR the
      // distributions disagree (the units are the metric's own — chars
      // here). Exact computation on the distinct-value support: CDF
      // steps are integer cumulative counts, each |ΔF|·Δx term is
      // fixed-point quantized (1e9) before the unordered sum, and the
      // only window runs over the grouped support (≤ |distinct
      // lengths| rows — the x_ks_statistic posture).
      val ev = t(s, d, "documents")
        .groupBy(col("n_chars").as("x"))
        .agg(
          sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L))
            .cast("long").as("c1"),
          sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L))
            .cast("long").as("c2"))
      val w = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wl = Window.orderBy("x")
      val tot = ev.agg(sum(col("c1")).cast("long").as("n1"),
        sum(col("c2")).cast("long").as("n2"))
      ev.crossJoin(broadcast(tot))
        .withColumn("f1", sum(col("c1")).over(w).cast("long"))
        .withColumn("f2", sum(col("c2")).over(w).cast("long"))
        .withColumn("dx", (lead(col("x"), 1).over(wl) - col("x"))
          .cast("double"))
        .filter(col("dx").isNotNull)
        .withColumn("q", floor(
          abs(col("f1").cast("double") / col("n1") -
            col("f2").cast("double") / col("n2")) * col("dx")
            * 1e9 + 0.5).cast("long"))
        .groupBy("n1", "n2")
        .agg(sum(col("q")).as("qs"), count(lit(1)).as("n_steps"))
        .select(col("n1"), col("n2"), col("n_steps"),
          detRound(col("qs").cast("double") / 1e9, 6)
            .as("wasserstein_1"))
    }),

    "x_permutation_test" -> ((s, d) => {
      // permutation (randomization) test for the two-arm difference in
      // mean order value — the inference that needs NO distributional
      // assumption: under the null the arm labels are exchangeable, so
      // the observed |Δ| is compared against Δ under B=32 relabelings.
      // Coins are md5(key:b) — deterministic "randomness", identical
      // in both engines — with b=0 the observed assignment.
      // Scale shape: the b-fanout aggregates map-side, so despite the
      // 33× row fanout the shuffle is 2(B+1) cells of exact cent sums;
      // everything after is O(B) and broadcast. p = (#{|Δ_b| ≥ |Δ_0|}
      // + 1)/(B + 1), the add-one Monte-Carlo estimator (Phipson &
      // Smyth 2010 — never reports p = 0).
      val B = 32
      val diffs = t(s, d, "orders")
        .select(col("o_orderkey").cast("string").as("k"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("qy"))
        .select(col("k"), col("qy"),
          explode(expr(s"sequence(0, $B)")).as("b"))
        .withColumn("arm",
          substring(md5(concat(col("k"), lit(":"),
            col("b").cast("string"))), 1, 1) < "8")
        .groupBy("b")
        .agg(
          sum(when(col("arm"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm"), col("qy")).otherwise(0L)).as("sy1"),
          sum(when(!col("arm"), 1L).otherwise(0L)).as("n0"),
          sum(when(!col("arm"), col("qy")).otherwise(0L)).as("sy0"))
        .withColumn("diff",
          col("sy1").cast("double") / col("n1") / 100.0 -
            col("sy0").cast("double") / col("n0") / 100.0)
        .withColumn("qad", floor(abs(col("diff")) * 1e6 + 0.5)
          .cast("long"))
        .localCheckpoint()
      val obs = diffs.filter(col("b") === 0)
        .select(col("diff").as("obs_diff"), col("qad").as("obs_qad"),
          (col("n1") + col("n0")).as("n_orders"))
      diffs.filter(col("b") > 0).crossJoin(broadcast(obs))
        .groupBy("n_orders", "obs_diff")
        .agg(count(lit(1)).as("b_perms"),
          sum(when(col("qad") >= col("obs_qad"), 1L).otherwise(0L))
            .cast("long").as("n_exceed"))
        .select(col("n_orders"), col("b_perms"), col("n_exceed"),
          detRound(col("obs_diff"), 4).as("obs_diff"),
          detRound((col("n_exceed") + 1).cast("double") /
            (col("b_perms") + 1).cast("double"), 6).as("p_value"))
    }),

    "x_gumbel_maxima" -> ((s, d) => {
      // Gumbel extreme-value fit over monthly block maxima of order
      // value (method of moments: β = s·√6/π, μ = m − γ·β) with the
      // 12-block return level μ − β·ln(−ln(1 − 1/12)) — the tail-risk
      // readout ("the largest order we should expect in a year")
      // that percentiles of the raw distribution cannot answer.
      // Maxima are exact cent integers; mean/sd come from
      // DECIMAL(38,0)/HUGEINT sums over the ~80-row block table; the
      // γ and π constants are pinned 17-digit literals so both engines
      // run identical IEEE arithmetic.
      val gamma = 0.57721566490153286
      val pi = 3.141592653589793
      val mx = t(s, d, "orders")
        .groupBy((year(col("o_orderdate")) * 12 +
          (month(col("o_orderdate")) - 1)).as("mi"))
        .agg(max(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("qmx"))
      val agg = mx.agg(count(lit(1)).as("n"),
        sum(col("qmx").cast("decimal(38,0)")).as("sy"),
        sum((col("qmx").cast("decimal(38,0)") *
          col("qmx").cast("decimal(38,0)"))).as("syy"))
      agg
        .withColumn("m", col("sy").cast("double") / col("n") / 100.0)
        .withColumn("v",
          (col("syy").cast("double") / 1e4
            - (col("sy").cast("double") / 100.0)
              * (col("sy").cast("double") / 100.0) / col("n"))
            / (col("n") - 1))
        .withColumn("sd", sqrt(col("v")))
        .withColumn("beta", col("sd") * sqrt(lit(6.0)) / lit(pi))
        .withColumn("mu", col("m") - lit(gamma) * col("beta"))
        .select(col("n").as("n_blocks"),
          detRound(col("m"), 2).as("block_mean"),
          detRound(col("sd"), 2).as("block_sd"),
          detRound(col("beta"), 4).as("gumbel_beta"),
          detRound(col("mu"), 2).as("gumbel_mu"),
          detRound(col("mu") - col("beta") *
            log(-log(lit(1.0) - lit(1.0) / 12.0)), 2)
            .as("return_level_12"))
    }),

    "x_welch_ttest" -> ((s, d) => {
      // Welch two-sample unequal-variance t-test per order-priority
      // segment — the default two-arm readout when variances cannot be
      // assumed equal (pooled-t's silent assumption). Arms are the md5
      // order coin; sufficient statistics per (segment, arm) follow the
      // x_anova_oneway posture: n, Σy as DECIMAL(18,4), Σy² as
      // 1e4-fixed-point DECIMAL(38,0), so sums are exact and the
      // t / Welch–Satterthwaite df arithmetic runs as identical IEEE
      // doubles on identical inputs. One fact-table groupBy (map-side
      // partials, shuffle = O(segments)); significance vs 1.96 is the
      // large-sample normal approximation (df here is in the
      // thousands, where t and z agree to 3+ decimals).
      val g = armMoments(s, d)
        .withColumn("se2", col("v1") / col("n1") + col("v0") / col("n0"))
        .withColumn("tt", (col("m1") - col("m0")) / sqrt(col("se2")))
        .withColumn("df",
          col("se2") * col("se2") /
            (col("v1") / col("n1") * (col("v1") / col("n1"))
              / (col("n1") - 1)
              + col("v0") / col("n0") * (col("v0") / col("n0"))
                / (col("n0") - 1)))
      g.select(col("grp"), col("n1"), col("n0"),
          detRound(col("m1") - col("m0"), 4).as("mean_diff"),
          detRound(col("tt"), 6).as("t_stat"),
          detRound(col("df"), 2).as("welch_df"),
          (abs(col("tt")) > lit(1.96)).as("significant_05"))
        .orderBy("grp")
    }),

    "x_levene_variance" -> ((s, d) => {
      // Levene's homogeneity-of-variance test (mean-centered form)
      // across order priorities — the gate before pooled-variance
      // procedures: W is the one-way ANOVA F computed on the absolute
      // deviations z_ij = |y_ij − ȳ_j|. Two passes: (1) per-group
      // exact means from DECIMAL sums (both engines derive the
      // identical binary64); (2) per-row deviation quantized to 1e6
      // fixed point (|dev| and dev², the x_pagerank per-term
      // discipline) so the unordered sums are integer-exact in
      // DECIMAL(38,0)/HUGEINT; the F arithmetic then runs in double on
      // exact statistics. The group-mean table is O(k) and broadcast —
      // the second pass is a shuffle-free map over the fact scan.
      val means = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)")).as("sy"))
        .withColumn("m", col("sy").cast("double") / col("n"))
        .select("grp", "m")
      val (per, w) = absDevAnova(s, d, means, "m", "lw")
      per.crossJoin(broadcast(w))
        .select(col("grp"), col("n"),
          detRound(col("zm"), 4).as("mean_absdev"),
          detRound(col("lw"), 6).as("levene_w"),
          // F(4, nn-5) 5% critical ≈ 2.372 at these group counts —
          // embedded as the documented constant for the fixture's k=5
          (col("lw") > lit(2.372)).as("reject_equal_var_05"))
        .orderBy("grp")
    }),

    "x_brown_forsythe" -> ((s, d) => {
      // Brown–Forsythe (JASA 1974) — the ROBUST Levene variant: the
      // same one-way ANOVA F on absolute deviations, but centered on
      // the per-group MEDIAN instead of the mean, which keeps the test
      // honest under the skewed/heavy-tailed spend distributions
      // x_hill_tail_index documents (x_levene_variance's own scaladoc
      // admits mean-centering assumes symmetry). The median is an EXACT
      // order statistic — the first cent value whose 2·cum ≥ n_g + 1,
      // the x_newsvendor_quantile integer-cum pick — selected off the
      // (group, price-cents) histogram, which is bounded by the VALUE
      // DOMAIN (groups × distinct cent values), not the corpus: the
      // cumsum window never sorts fact rows. The ANOVA on |y − med| is
      // the shared absDevAnova kernel.
      val hist = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("grp"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("yc"))
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("grp").orderBy("yc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val meds = hist
        .withColumn("cum", sum(col("cnt")).over(wc))
        .join(broadcast(hist.groupBy("grp")
          .agg(sum(col("cnt")).cast("long").as("ng"))), "grp")
        .filter(col("cum") * 2 >= col("ng") + 1)
        .groupBy("grp").agg(min(col("yc")).as("medc"))
        .withColumn("med", col("medc").cast("double") / 100.0)
        .select("grp", "med")
      val (per, w) = absDevAnova(s, d, meds, "med", "bw")
      per.join(broadcast(meds), "grp").crossJoin(broadcast(w))
        .select(col("grp"), col("n"),
          detRound(col("med"), 2).as("median"),
          detRound(col("zm"), 4).as("mean_absdev"),
          detRound(col("bw"), 6).as("bf_w"),
          // same F(k−1, nn−k) 5% critical as x_levene_variance (the
          // deviations change, the ANOVA dfs do not)
          (col("bw") > lit(2.372)).as("reject_equal_var_05"))
        .orderBy("grp")
    }),

    "x_odds_ratio" -> ((s, d) => {
      // 2×2 odds ratio with the Woolf logit CI per order-priority
      // segment: arms = md5 order coin, outcome = order fulfilled.
      // OR = (a·d)/(b·c) on exact cell counts; ln OR ± 1.96·√(Σ 1/cell)
      // exponentiated back. Cells with any zero emit NULLs (the CI is
      // undefined; Haldane's +0.5 would silently change the estimand).
      // One grouped count — shuffle is O(segments).
      val cells = t(s, d, "orders")
        .select(col("o_orderpriority").as("grp"), armCoin.as("tr"),
          (col("o_orderstatus") === "F").as("y"))
        .groupBy("grp")
        .agg(
          sum(when(col("tr") && col("y"), 1L).otherwise(0L)).as("a"),
          sum(when(col("tr") && !col("y"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("tr") && col("y"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("tr") && !col("y"), 1L).otherwise(0L)).as("dd"))
      val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("dd") > 0
      cells
        .withColumn("or_", when(ok,
          (col("a") * col("dd")).cast("double") /
            (col("b") * col("c")).cast("double")))
        .withColumn("se", when(ok, sqrt(
          lit(1.0) / col("a") + lit(1.0) / col("b") +
            lit(1.0) / col("c") + lit(1.0) / col("dd"))))
        .select(col("grp"), col("a"), col("b"), col("c"),
          col("dd").as("d"),
          detRound(col("or_"), 6).as("odds_ratio"),
          detRound(exp(log(col("or_")) - lit(1.96) * col("se")), 6)
            .as("ci_lo"),
          detRound(exp(log(col("or_")) + lit(1.96) * col("se")), 6)
            .as("ci_hi"),
          when(ok, log(col("or_")) - lit(1.96) * col("se") > 0.0 ||
            log(col("or_")) + lit(1.96) * col("se") < 0.0)
            .as("excludes_one"))
        .orderBy("grp")
    }),

    "x_theil_sen" -> ((s, d) => {
      // Theil–Sen robust trend over the monthly revenue series: the
      // median of all pairwise slopes (and the median-residual
      // intercept) — up to ~29% contamination tolerance where OLS
      // (x_ols_trend) has a breakdown point of one bad month. The
      // pairs table is O(months²) of an ALREADY-AGGREGATED series
      // (~80 months → 3,160 pairs at any data scale — metadata-sized,
      // the self-join never touches raw orders). Slopes are exact
      // integer cent/month ratios → identical doubles; both medians
      // are RANK SELECTIONS over quantized-value histograms (the
      // engine's standard interpolation-free median), never
      // percentile interpolation.
      val monthly = t(s, d, "orders")
        .groupBy((year(col("o_orderdate")) * 12 +
          (month(col("o_orderdate")) - 1)).as("mi"))
        .agg(floor(dsum(col("o_totalprice")) * 100 + 0.5)
          .cast("long").as("rev_c"))
        .localCheckpoint()
      val a = monthly.select(col("mi").as("x1"), col("rev_c").as("y1"))
      val b = monthly.select(col("mi").as("x2"), col("rev_c").as("y2"))
      val pairs = a.join(b, col("x1") < col("x2"))
        .select(floor((col("y2") - col("y1")).cast("double") /
          (col("x2") - col("x1")).cast("double") * 1e6 + 0.5)
          .cast("long").as("qs"))
      // lower-median by rank selection over the slope histogram
      def medianOf(df: DataFrame, vc: String): DataFrame = {
        val h = df.groupBy(col(vc)).agg(count(lit(1)).as("c"))
        val wS = Window.orderBy(col(vc))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val n = df.agg(count(lit(1)).as("n"))
        h.crossJoin(broadcast(n))
          .withColumn("cum", sum(col("c")).over(wS))
          .filter(col("cum") >= expr("(n + 1) div 2"))
          .agg(min(col(vc)).as("med"))
      }
      val slope = medianOf(pairs, "qs")
        .select((col("med") / 1e6).as("slope_c"))
      val resid = monthly.crossJoin(broadcast(slope))
        .select(floor(col("rev_c") - col("slope_c") * col("mi") + 0.5)
          .cast("long").as("qr"))
      val icept = medianOf(resid, "qr")
        .select(col("med").cast("double").as("icept_c"))
      val nm = monthly.agg(count(lit(1)).as("n_months"))
      val np = pairs.agg(count(lit(1)).as("n_pairs"))
      nm.crossJoin(np).crossJoin(slope).crossJoin(icept)
        .select(col("n_months"), col("n_pairs"),
          detRound(col("slope_c") / 100.0, 4).as("sen_slope"),
          detRound(col("icept_c") / 100.0, 2).as("sen_intercept"))
    }),

    "x_ks_statistic" -> ((s, d) => {
      // two-sample Kolmogorov-Smirnov: D = max |F_view − F_purchase|
      // over the pooled event-value support, with the 5%-level
      // rejection threshold 1.358·√((n1+n2)/(n1·n2)). CDF steps are
      // integer cumulative counts per DISTINCT value (ties collapse
      // before the cumulative, so both engines see identical step
      // functions); D and its arg-max value select by rounded-D desc /
      // value asc — no interpolation anywhere. One grouped count + one
      // global window over |distinct values| rows.
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("value"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("long").as("c1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("long").as("c2"))
      val w = Window.orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = ev.agg(sum(col("c1")).cast("long").as("n1"),
        sum(col("c2")).cast("long").as("n2"))
      val steps = ev.crossJoin(broadcast(tot))
        .withColumn("f1", sum(col("c1")).over(w).cast("long"))
        .withColumn("f2", sum(col("c2")).over(w).cast("long"))
        .withColumn("qd", floor(abs(col("f1") / col("n1")
          - col("f2") / col("n2")) * 1e9 + 0.5).cast("long"))
        .localCheckpoint()
      val mx = steps.agg(max(col("qd")).as("mq"))
      steps.crossJoin(broadcast(mx))
        .filter(col("qd") === col("mq"))
        .groupBy(col("n1"), col("n2"), col("mq"))
        .agg(min(col("value")).as("at_value"))
        .select(col("n1"), col("n2"),
          detRound(col("mq") / 1e9, 6).as("ks_d"),
          detRound(col("at_value"), 4).as("at_value"),
          detRound(lit(1.358) * sqrt((col("n1") + col("n2"))
            / (col("n1") * col("n2")).cast("double")), 6).as("crit_05"),
          (col("mq") / 1e9 > lit(1.358) * sqrt((col("n1") + col("n2"))
            / (col("n1") * col("n2")).cast("double"))).as("reject_05"))
    }),

    "x_benford_digits" -> ((s, d) => {
      // Benford first-digit audit of order totals (the fraud/data-entry
      // screen): observed leading-digit frequencies vs log10(1 + 1/d),
      // expressed as ln-ratios so both engines compute the identical
      // scalar, plus each digit's chi-square contribution (o − e)²/e.
      // The digit comes from the integer part's string head — no
      // floating log10 bucketing. One grouped count over 9 digits.
      val dig = t(s, d, "orders")
        .filter(col("o_totalprice") >= 1.0)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = dig.agg(sum(col("n")).cast("long").as("nn"))
      dig.crossJoin(broadcast(tot))
        .withColumn("benford",
          log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)))
        .withColumn("e", col("nn") * col("benford"))
        .select(col("digit"), col("n"),
          detRound(col("n") / col("nn"), 6).as("observed_frac"),
          detRound(col("benford"), 6).as("benford_frac"),
          detRound((col("n") - col("e")) * (col("n") - col("e")) / col("e"),
            4).as("chi2_term"))
        .orderBy("digit")
    }),

    "x_gini_concentration" -> ((s, d) => {
      // Gini coefficient of supplier revenue concentration (the scalar
      // companion to x_abc_analysis's classes): with revenues x_i
      // ascending and ranks i, G = (2Σi·x_i − (n+1)Σx) / (nΣx) — every
      // term an integer over fixed-point revenue units, one final
      // division. One grouped pass + one global rank window over
      // |suppliers| rows.
      val rev = supplierRevenue(s, d)
        .withColumn("i", row_number().over(
          Window.orderBy(asc("rq"), asc("suppkey"))).cast("long"))
      rev.agg(count(lit(1)).as("n"),
          sum(col("rq")).cast("long").as("sx"),
          sum(col("i") * col("rq")).cast("long").as("six"))
        .select(col("n").as("n_suppliers"),
          detRound(col("sx") / 1e4, 2).as("total_revenue"),
          detRound((lit(2L) * col("six") - (col("n") + 1) * col("sx"))
            .cast("double") / (col("n") * col("sx")), 6).as("gini"))
    }),

    "x_lorenz_curve" -> ((s, d) => {
      // Decile Lorenz points of supplier revenue — the CURVE behind
      // x_gini_concentration's scalar (Lorenz 1905): cumulative revenue
      // share held by the poorest 10%, 20%, … of suppliers, the shape a
      // planner reads before trusting any single concentration number.
      // Ranks come from the scale-safe globalRank decomposition (never
      // an unpartitioned row_number over the supplier table, never
      // ntile floats); each supplier's FIRST decile is the pure integer
      // ceil(10·i/n) = (10i + n − 1) div n, so the curve is a grouped
      // sum onto ≤ 10 rows + one tiny cumulative window — revenue stays
      // in exact 1e4 fixed-point longs until the two final divisions.
      // Scale: one fact groupBy to O(suppliers), windows over distinct
      // revenue values / 10 decile rows only.
      // The O(suppliers) grain is checkpointed: globalRank forks it twice
      // and the totals fork it again; the barrier keeps the fact pass to
      // one and is supplier-sized.
      val rev = supplierRevenue(s, d)
        .localCheckpoint()
      val ranked = globalRank(rev, "rq", Seq("suppkey"), "i")
      val tot = ranked.agg(count(lit(1)).cast("long").as("n"),
        sum(col("rq").cast("decimal(38,0)")).as("trq"))
      val wc = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
      ranked.crossJoin(broadcast(tot))
        .withColumn("decile", expr("(i * 10 + n - 1) div n"))
        .groupBy(col("decile"), col("n"), col("trq"))
        .agg(sum(col("rq").cast("decimal(38,0)")).as("dq"),
          count(lit(1)).cast("long").as("dn"))
        .withColumn("cumq", sum(col("dq")).over(wc))
        .withColumn("cumn", sum(col("dn")).over(wc))
        .select(col("decile").cast("long").as("decile"),
          col("cumn").cast("long").as("n_cum_suppliers"),
          detRound(col("cumq").cast("double") / 1e4, 2).as("cum_revenue"),
          detRound(col("cumq").cast("double")
            / col("trq").cast("double"), 6).as("cum_share"))
        .orderBy("decile")
    }),

    "x_rfm_segments" -> ((s, d) => {
      // RFM segmentation (recency / frequency / monetary quintiles — the
      // standard customer-value grid): per customer, days since last
      // order, order count, decimal-exact spend; each dimension scored
      // 1..5 by ntile over a worst-first total order (custkey
      // tie-break), so score 5 is always "best". Output is the segment
      // grid with counts and exact spend totals. Three global ntiles
      // over one row per customer — O(|customers|), not O(|orders|),
      // after the first grouped pass.
      val byCust = t(s, d, "orders")
        .groupBy(col("o_custkey").cast("long").as("custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("f"), dsum(col("o_totalprice")).as("m"))
      val mx = byCust.agg(max(col("last_order")).as("mxd"))
      val scored = byCust.crossJoin(broadcast(mx))
        .withColumn("r_days",
          datediff(col("mxd"), col("last_order")).cast("long"))
        .withColumn("r_score", ntile(5).over(Window
          .orderBy(desc("r_days"), asc("custkey"))).cast("long"))
        .withColumn("f_score", ntile(5).over(Window
          .orderBy(asc("f"), asc("custkey"))).cast("long"))
        .withColumn("m_score", ntile(5).over(Window
          .orderBy(asc("m"), asc("custkey"))).cast("long"))
      scored.groupBy(concat(col("r_score"), col("f_score"), col("m_score"))
          .as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("r_days")).cast("long").as("sum_recency_days"),
          dsum(col("m")).as("total_monetary"))
        .orderBy("segment")
    }),

    "x_target_encoding" -> ((s, d) => {
      // leave-one-out target encoding with m-estimate smoothing (the
      // Micci-Barreca 2001 categorical encoder every tabular-ML pipeline
      // ships): encode l_suppkey by the mean quantity of the OTHER rows
      // with that key, shrunk toward the global mean by m = 10 virtual
      // rows. LOO (subtract self before dividing) is what prevents
      // target leakage — the encoded feature never contains its own
      // row's label. Sums are per-term fixed-point longs, so the
      // (sum − self)/(n − 1) arithmetic is integer-exact until the final
      // scalar divisions. Shape: one grouped sum + one broadcast join
      // back — no window, no self-join; output capped by a pushed-down
      // key filter.
      val base = t(s, d, "lineitem")
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("l_quantity"),
          floor(col("l_quantity") * 1e6 + 0.5).cast("long").as("q"))
        .localCheckpoint()
      val per = base.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), sum(col("q")).cast("long").as("sk"))
      val g = base.agg(count(lit(1)).as("nn"),
        sum(col("q")).cast("long").as("ss"))
      base.join(broadcast(per), "l_suppkey")
        .crossJoin(broadcast(g))
        .withColumn("gm", (col("ss") / col("nn")) / 1e6)
        .withColumn("loo",
          when(col("n") > 1,
            ((col("sk") - col("q")) / (col("n") - 1)) / 1e6)
            .otherwise(col("gm")))
        .withColumn("smoothed",
          ((col("sk") - col("q")) / lit(1e6) + lit(10.0) * col("gm"))
            / (col("n") - 1 + lit(10.0)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          detRound(col("l_quantity"), 2).as("quantity"),
          col("n").as("key_n"),
          detRound(col("loo"), 6).as("loo_mean"),
          detRound(col("smoothed"), 6).as("smoothed_mean"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixture —
        // total-order on every output column so tied prefixes leave
        // only identical rows to permute
        .orderBy("l_orderkey", "l_linenumber", "l_suppkey", "quantity")
    }),

    "x_chi2_independence" -> ((s, d) => {
      // Pearson chi-square independence test of (source × lang) in the
      // documents table + Cramér's V effect size — the balance
      // diagnostic a curation pipeline runs before per-source language
      // quotas (a significant association means some sources are
      // language-skewed and a global language mix will distort them).
      // Observed/expected from integer counts; each (o−e)²/e term is
      // fixed-point quantized before the single sum. Two grouped counts
      // + a broadcast spine join — scale-trivial.
      val o = t(s, d, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
        .localCheckpoint()
      val rt = o.groupBy("source").agg(sum(col("o")).cast("long").as("r"))
      val ct = o.groupBy("lang").agg(sum(col("o")).cast("long").as("c"))
      val nn = o.agg(sum(col("o")).cast("long").as("nn"))
      val spine = rt.crossJoin(ct).crossJoin(broadcast(nn))
        .join(o, Seq("source", "lang"), "left")
        .withColumn("ob", coalesce(col("o"), lit(0L)))
        .withColumn("e", (col("r") * col("c")) / col("nn"))
        .withColumn("qt",
          floor(((col("ob") - col("e")) * (col("ob") - col("e"))
            / col("e")) * 1e9 + 0.5).cast("long"))
      val dims = rt.agg(count(lit(1)).as("nr"))
        .crossJoin(ct.agg(count(lit(1)).as("nc")))
      spine.agg(sum(col("qt")).cast("long").as("sq"))
        .crossJoin(broadcast(dims))
        .crossJoin(broadcast(nn))
        .select(col("nn").as("n_docs"), col("nr").as("n_sources"),
          col("nc").as("n_langs"),
          ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
          detRound(col("sq") / 1e9, 6).as("chi2"),
          detRound(sqrt((col("sq") / 1e9)
            / (col("nn") * least(col("nr") - 1, col("nc") - 1))), 6)
            .as("cramers_v"))
    }),

    "x_quantile_bins" -> ((s, d) => {
      // equi-depth feature binning (the discretization step feature
      // pipelines run before crossing / hashing continuous features):
      // 10 equal-count bins of l_extendedprice over the (price,
      // orderkey, linenumber) total order, per-bin boundaries +
      // decimal-exact sums. The bin edges double as an exact
      // 10-quantile sketch gauge. Spark's ntile over an unpartitioned
      // Window is a SINGLE-PARTITION sort of the whole fact table — an
      // OOM at 100× — so the bin comes from globalRank (distinct-price
      // cumsum + per-price row_number, both bounded) pushed through
      // ntile's closed form: with N = base·10 + rem, the first rem bins
      // hold base+1 rows, so bin(r) is integer division on the global
      // rank. Bit-identical to ntile(10), no unpartitioned sort of rows.
      val nTot = t(s, d, "lineitem").agg(count(lit(1)).as("nn"))
      globalRank(
          t(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_extendedprice")),
          "l_extendedprice", Seq("l_orderkey", "l_linenumber"), "r")
        .crossJoin(broadcast(nTot))
        .withColumn("base", expr("nn div 10"))
        .withColumn("rem", col("nn") % 10)
        .withColumn("bin",
          when(col("r") <= col("rem") * (col("base") + lit(1L)),
            expr("(r - 1) div (base + 1) + 1"))
          .otherwise(
            expr("rem + (r - 1 - rem * (base + 1)) div base + 1"))
          .cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          detRound(min(col("l_extendedprice")), 4).as("lo"),
          detRound(max(col("l_extendedprice")), 4).as("hi"),
          dsum(col("l_extendedprice")).as("bin_sum"))
        .orderBy("bin")
    }),

    "x_join_skew_stats" -> ((s, d) => {
      // pre-join skew advisor: the frequency profile of lineitem's join
      // key l_partkey — the numbers an engineer reads before deciding
      // whether a key needs salting / AQE skew handling (max key share,
      // p99-vs-mean ratio). Two grouped passes: key → count, then
      // count → #keys (the count-of-counts histogram, bounded by the
      // distinct frequency values); the p99 frequency is a rank
      // selection off that histogram's cumsum, so no per-key sort and
      // no single-partition pass over keys.
      val cnt = t(s, d, "lineitem").groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("c"))
      val tot = cnt.agg(count(lit(1)).as("n_keys"),
        sum(col("c")).cast("long").as("n_rows"), max(col("c")).as("max_c"))
      val wC = Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
      val p99 = cnt.groupBy(col("c")).agg(count(lit(1)).as("k"))
        .withColumn("cum", sum(col("k")).over(wC))
        .crossJoin(broadcast(tot))
        .filter(col("cum") >= expr("(99 * n_keys + 99) div 100"))
        .agg(min(col("c")).as("p99_c"))
      tot.crossJoin(broadcast(p99))
        .select(col("n_keys"), col("n_rows"), col("max_c"), col("p99_c"),
          detRound(col("n_rows").cast("double") / col("n_keys"), 6)
            .as("mean_c"),
          detRound(col("max_c").cast("double") * col("n_keys")
            / col("n_rows"), 6).as("skew_ratio"))
    }),

    "x_trimmed_mean" -> ((s, d) => {
      // 10%-trimmed mean per event type — the robust location estimate
      // metric pipelines use when MAD-based outlier cuts (x_robust_stats)
      // are too aggressive. Dropping the k=n÷10 smallest and largest
      // values needs the rank structure of the whole group, but never
      // the rows in rank order: each (type, value) HISTOGRAM bucket
      // occupies ranks (cum−c, cum], so its kept-row count is the
      // integer overlap of that interval with (k, n−k] — the whole op
      // is two grouped aggregations and one window over the bounded
      // distinct-value table. Kept-value sums in DECIMAL(18,4)·count
      // (exact in both engines); the only float op is the final mean.
      val ev = t(s, d, "events").select(col("event_type"), col("value"))
      val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val wC = Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
      ev.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wC))
        .join(broadcast(n), "event_type")
        .withColumn("k", expr("n div 10"))
        .withColumn("kept", greatest(lit(0L),
          least(col("cum"), col("n") - col("k"))
            - greatest(col("cum") - col("c"), col("k"))))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("k")).as("k_each_side"),
          sum(col("value").cast("decimal(18,4)") * col("kept"))
            .cast("double").as("ts"),
          sum(col("value").cast("decimal(18,4)") * col("c"))
            .cast("double").as("fs"))
        .select(col("event_type"), col("n"), col("k_each_side"),
          detRound(col("ts") / (col("n") - lit(2) * col("k_each_side")), 6)
            .as("trimmed_mean"),
          detRound(col("fs") / col("n"), 6).as("mean"))
        .orderBy("event_type")
    }),

    "x_winsorized_stats" -> ((s, d) => {
      // winsorization at the 5th/95th percentile per event type — the
      // outlier CAPPING curation step (vs x_trimmed_mean's dropping):
      // values below the p05 edge are raised to it, above p95 lowered.
      // Both edges are rank selections off the same (type, value)
      // histogram cumsum (value at rank ceil(q·n) = min value whose
      // cumulative count reaches it), and the capped mean needs no
      // per-row pass either: cap(value) is constant within a histogram
      // bucket, so the capped sum is Σ cap(value)·c in DECIMAL(18,4).
      val ev = t(s, d, "events").select(col("event_type"), col("value"))
      val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val wC = Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
      val hist = ev.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wC))
        .join(broadcast(n), "event_type")
        .localCheckpoint()
      val lo = hist.filter(col("cum") >= expr("(n + 19) div 20"))
        .groupBy("event_type").agg(min(col("value")).as("p05"))
      val hi = hist.filter(col("cum") >= expr("(19 * n + 19) div 20"))
        .groupBy("event_type").agg(min(col("value")).as("p95"))
      hist.join(broadcast(lo), "event_type")
        .join(broadcast(hi), "event_type")
        .withColumn("cl", when(col("value") < col("p05"), col("p05"))
          .when(col("value") > col("p95"), col("p95"))
          .otherwise(col("value")))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          detRound(max(col("p05")), 6).as("p05"),
          detRound(max(col("p95")), 6).as("p95"),
          sum(col("cl").cast("decimal(18,4)") * col("c"))
            .cast("double").as("ws"))
        .select(col("event_type"), col("n"), col("p05"), col("p95"),
          detRound(col("ws") / col("n"), 6).as("winsorized_mean"))
        .orderBy("event_type")
    }),

    "x_empirical_bayes" -> ((s, d) => {
      // empirical-Bayes (beta-binomial) shrinkage of per-part return
      // rates — the estimator that stops a 2-of-3-returned part from
      // outranking a 400-of-1000 one. Method-of-moments prior from the
      // population of per-part rates: each rate is ONE double division
      // k/n (identical IEEE both engines) quantized to a 1e9 fixed-point
      // integer BEFORE the moment sums, Σq in BIGINT and Σq² in
      // DECIMAL(38,0)/HUGEINT (the x_anova_oneway posture), so the prior
      // (α, β) is a closed form over exact stats. The shrunk estimate
      // (k+α)/(n+α+β) is then map-side per part with (α, β) broadcast;
      // output is the top-15 largest shrinkage deltas via
      // TakeOrderedAndProject — no global sort, no unpartitioned window.
      // Plan: one groupBy(partkey) over lineitem + one tiny agg; at
      // 100 TB the only shuffle is the part-keyed partial-agg exchange.
      val per = t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("k"))
        .withColumn("q",
          floor(col("k").cast("double") / col("n").cast("double") * 1e9 +
            lit(0.5)).cast("long"))
        .localCheckpoint() // two consumers: prior stats + per-part apply
      val prior = per.agg(count(lit(1)).as("np"),
          sum(col("q")).as("sq"),
          sum((col("q") * col("q")).cast("decimal(38,0)")).as("sqq"))
        .select(
          (col("sq").cast("double") / col("np").cast("double") / lit(1e9))
            .as("m"),
          (col("sqq").cast("double") / col("np").cast("double") / lit(1e18))
            .as("m2"))
        .select(col("m"), (col("m2") - col("m") * col("m")).as("v"))
        .select(col("m"),
          (col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0))
            .as("nu"))
        .select((col("m") * col("nu")).as("alpha"),
          ((lit(1.0) - col("m")) * col("nu")).as("beta"))
      per.crossJoin(broadcast(prior))
        .withColumn("raw_rate", col("k").cast("double") /
          col("n").cast("double"))
        .withColumn("shrunk_rate",
          (col("k").cast("double") + col("alpha")) /
            (col("n").cast("double") + col("alpha") + col("beta")))
        .withColumn("delta_q",
          floor(abs(col("shrunk_rate") - col("raw_rate")) * 1e9 + lit(0.5))
            .cast("long"))
        .orderBy(desc("delta_q"), asc("l_partkey"))
        .limit(15)
        .select(col("l_partkey"), col("n"), col("k"),
          detRound(col("raw_rate"), 6).as("raw_rate"),
          detRound(col("shrunk_rate"), 6).as("shrunk_rate"),
          detRound(col("alpha"), 6).as("prior_alpha"),
          detRound(col("beta"), 6).as("prior_beta"))
    }),

    "x_fdr_bh" -> ((s, d) => {
      // Benjamini–Hochberg FDR control across 25 simultaneous per-nation
      // tests — the multiple-testing discipline any platform needs the
      // moment it runs one test per segment ("3 of 25 nations look
      // significant" means nothing at raw α). Each nation's fulfilled-
      // order rate is z-tested against the pooled rate; tests are ranked
      // by |z| (a 25-row bounded table) and BH rejects ranks ≤ the
      // largest i with |z|_(i) ≥ crit_i, where crit_i = Φ⁻¹(1 −
      // (i·α/m)/2) is PRECOMPUTED in Scala (Acklam) and embedded in
      // both engines as decimal literals — no special function at query
      // time.
      val per = nationFulfilled(s, d)
      val tot = per.agg(sum(col("n")).as("tn"), sum(col("k")).as("tk"))
      val critCase = (1 to FdrM).map(i =>
        s"WHEN rnk = $i THEN CAST(${fdrCritLit(i)} AS DOUBLE)")
        .mkString("CASE ", " ", " ELSE 9e99 END")
      stepUp(rankedRateZ(per.crossJoin(broadcast(tot)))
          .withColumn("crit", expr(critCase)))
        .select(col("nation"), col("n"), col("k"),
          detRound(col("rate"), 6).as("rate"),
          detRound(col("z"), 6).as("z_stat"),
          col("rnk").cast("long").as("bh_rank"),
          detRound(col("crit"), 6).as("bh_crit"),
          (col("rnk") <= col("imax")).as("rejected"))
        .orderBy("bh_rank")
    }),

    "x_benjamini_yekutieli" -> ((s, d) => {
      // Benjamini–Yekutieli FDR control (Ann. Statist. 2001) over the
      // same 25 per-nation z-tests as x_fdr_bh — the variant whose FDR
      // guarantee holds under ARBITRARY dependence between the tests
      // (nation rates share the pooled denominator, so BH's
      // independence/PRDS assumption is exactly what a careful reader
      // questions here). BY divides each BH level by the harmonic
      // factor c(m) = Σ 1/i; the factor is computed IN-ENGINE from the
      // data's own hypothesis count (a sequence ladder over the bounded
      // per-nation table, each 1/i term 1e12-quantized before the
      // integer sum) while the rank-i critical values — which need Φ⁻¹
      // — are Acklam literals valid for m = 25 and NULL-gated on the
      // actual count matching (the x_friedman_test "data decides k"
      // convention: a changed nation universe yields NULL verdicts,
      // never silently wrong ones). Plan shape identical to x_fdr_bh:
      // AQE-decided join, O(nations) everything downstream.
      val per = nationFulfilled(s, d)
        .localCheckpoint()
      val tot = per.agg(sum(col("n")).as("tn"), sum(col("k")).as("tk"))
      // harmonic ladder over the actual hypothesis count (explicit
      // bounds guard: Spark sequence(1, 0) would DESCEND on an empty
      // battery where DuckDB range() is empty)
      val hm = per.agg(count(lit(1)).as("m"))
        .select(col("m"), explode(sequence(lit(1L),
          greatest(col("m"), lit(1L)))).as("i"))
        .filter(col("i") <= col("m"))
        .groupBy(col("m"))
        .agg(sum(floor(lit(1e12) / col("i") + 0.5).cast("long"))
          .cast("long").as("cmq"))
      val critCase = (1 to FdrM).map(i =>
        s"WHEN rnk = $i THEN CAST(${byCritLit(i)} AS DOUBLE)")
        .mkString("CASE ", " ", " ELSE 9e99 END")
      stepUp(rankedRateZ(per.crossJoin(broadcast(tot))
          .crossJoin(broadcast(hm)))
          .withColumn("crit", when(col("m") === FdrM, expr(critCase))))
        .select(col("nation"), col("n"), col("k"),
          detRound(col("rate"), 6).as("rate"),
          detRound(col("z"), 6).as("z_stat"),
          col("rnk").cast("long").as("by_rank"),
          col("m").cast("long").as("m_tests"),
          detRound(col("cmq").cast("double") / 1e12, 6).as("c_m"),
          detRound(col("crit"), 6).as("by_crit"),
          when(col("crit").isNotNull, col("rnk") <= col("imax"))
            .as("rejected"))
        .orderBy("by_rank")
    }),

    "x_grubbs_outlier" -> ((s, d) => {
      // Grubbs' maximum-normed-residual test (Technometrics 1969) per
      // priority: is the most extreme daily order count a statistical
      // outlier, or just the tail of the normal scatter? G = max|y−ȳ|/s
      // against the exact critical value ((N−1)/√N)·√(t²/(N−2+t²)) with
      // t the α/(2N) Student-t quantile at N−2 df — BOTH data-dependent
      // (N is the series length the data decides), which is exactly
      // what the in-engine Hill-396 tQuantile unblocks: no embedded
      // literal can cover a df the query discovers at runtime. The t
      // value is 1e9-quantized before the critical-value arithmetic
      // (the pow/exp ulp firewall). Daily moments are exact integer
      // sums; the extreme row is a deterministic rank pick (deviation
      // desc, day asc). Scale: one fact groupBy to the calendar-bounded
      // day grain, everything downstream O(priorities).
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("y"))
        .localCheckpoint()
      val st = seriesMoments(daily)
      // the O(priorities) pick rows are checkpointed BEFORE the
      // t-quantile so the staged evaluation runs on a materialized
      // 5-row frame
      val pick = extremeDay(daily, st)
        .withColumn("g_stat", when(col("sd") > 0, col("adev") / col("sd")))
        .withColumn("p2", lit(0.05) / col("n"))
        .localCheckpoint()
      tQuantileStaged(pick, col("p2"), col("n") - 2, "tq_raw")
        .withColumn("tq", floor(col("tq_raw") * 1e9 + 0.5) / 1e9)
        .withColumn("g_crit",
          (col("n") - 1).cast("double") / sqrt(col("n").cast("double"))
            * sqrt(col("tq") * col("tq")
              / (col("n").cast("double") - 2 + col("tq") * col("tq"))))
        .select(col("priority"), col("n").as("n_days"),
          detRound(col("mean"), 4).as("mean_daily"),
          detRound(col("sd"), 6).as("sd_daily"),
          fmtD(col("day")).as("extreme_day"),
          col("y").as("extreme_count"),
          detRound(col("g_stat"), 6).as("g_stat"),
          detRound(col("tq"), 6).as("t_quantile"),
          detRound(col("g_crit"), 6).as("g_crit"),
          (col("g_stat") > col("g_crit")).as("is_outlier"))
        .orderBy("priority")
    }),

    "x_generalized_esd" -> ((s, d) => {
      // Rosner's generalized ESD test (Technometrics 1983) for up to
      // r = 5 outliers per priority in the daily order-count series —
      // the masking-proof generalization of x_grubbs_outlier: a single
      // Grubbs pass can be MASKED by a second extreme inflating the
      // sd, so Rosner removes the max-residual point r times,
      // recomputing the statistics each round, and the verdict is the
      // LARGEST i with R_i > λ_i (not first failure — the ESD rule).
      // Round i is bit-for-bit a Grubbs pass over the remaining
      // series: stats exclude the i−1 prior winners via an anti-join
      // against the accumulated winner set (5 rounds of O(calendar)
      // work on the checkpointed day grain), the extreme is the
      // deterministic (deviation desc, day asc) rank pick, and
      // λ_i = ((n_i−1)/√n_i)·√(t²/(n_i−2+t²)) with n_i the remaining
      // length and t the two-tailed 0.05/n_i, (n_i−2)-df Hill-396
      // quantile — data-dependent df each round, exactly what the
      // in-engine t unblocks. Round 1 equals the Grubbs critical
      // exactly (the spec's regression pin). t is 1e9-quantized
      // before the critical-value arithmetic (the pow/exp firewall).
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("y"))
        .localCheckpoint()
      var rem = daily
      val rounds = (1 to EsdR).map { i =>
        val st = seriesMoments(rem)
        // the t-quantile does NOT enter the pick: which day is most
        // extreme depends only on |y − mean|, so each round's winner is
        // decided (and checkpointed, feeding the next round's anti-join)
        // before any t arithmetic — all five rounds' tq then run as ONE
        // staged pass over the unioned O(5 × priorities) pick rows,
        // paying the Hill-396 plan/codegen constant once instead of
        // five times
        val pick = extremeDay(rem, st)
          .withColumn("r_stat",
            when(col("sd") > 0, col("adev") / col("sd")))
          .withColumn("p2", lit(0.05) / col("n"))
          .withColumn("round_i", lit(i.toLong))
          .select(col("priority"), col("round_i"), col("day"), col("y"),
            col("n"), col("r_stat"), col("p2"))
          .localCheckpoint()
        rem = rem.join(pick.select("priority", "day"),
          Seq("priority", "day"), "left_anti").localCheckpoint()
        pick
      }
      val picks = rounds.reduce(_ unionByName _)
      val all = tQuantileStaged(picks, col("p2"), col("n") - 2, "tq_raw")
        .withColumn("tq", floor(col("tq_raw") * 1e9 + 0.5) / 1e9)
        .withColumn("lambda",
          (col("n") - 1).cast("double") / sqrt(col("n").cast("double"))
            * sqrt(col("tq") * col("tq")
              / (col("n").cast("double") - 2 + col("tq") * col("tq"))))
      val nOut = all
        .withColumn("exc",
          when(col("r_stat") > col("lambda"), col("round_i"))
            .otherwise(0L))
        .groupBy(col("priority").as("pk"))
        .agg(max(col("exc")).cast("long").as("n_outliers"))
      all.join(broadcast(nOut), col("priority") === col("pk"))
        .select(col("priority"), col("round_i"),
          fmtD(col("day")).as("extreme_day"),
          col("y").as("extreme_count"), col("n").as("n_remaining"),
          detRound(col("r_stat"), 6).as("r_stat"),
          detRound(col("tq"), 6).as("t_quantile"),
          detRound(col("lambda"), 6).as("lambda_crit"),
          (col("r_stat") > col("lambda")).as("exceeds"),
          col("n_outliers"))
        .orderBy("priority", "round_i")
    }),

    "x_tukey_fences" -> ((s, d) => {
      // Tukey's fences per priority (EDA 1977) — the NONPARAMETRIC
      // outlier screen beside x_grubbs_outlier/x_generalized_esd
      // (both assume normality; fences only assume quartiles exist):
      // Q1/Q3 are exact integer-cum rank picks off the (priority,
      // price-cents) histogram (first cent value with 4·cum ≥ n, and
      // with 4·cum ≥ 3n — the newsvendor/brown-forsythe machinery,
      // bounded by the VALUE DOMAIN so the cumsum never sorts fact
      // rows), the fences Q1 − 1.5·IQR / Q3 + 1.5·IQR live in exact
      // DOUBLED-cent integers (2·fence = 2·Qc ± 3·IQRc keeps the 1.5
      // integral), and the outlier counts are grouped integer sums
      // over the SAME histogram against the broadcast fences — one
      // fact scan total, no float enters until the display columns.
      val hist = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("grp"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("yc"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val wc = Window.partitionBy("grp").orderBy("yc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum(col("cnt")).over(wc))
        .join(broadcast(hist.groupBy("grp")
          .agg(sum(col("cnt")).cast("long").as("ng"))), "grp")
      val q1 = cum.filter(col("cum") * 4 >= col("ng"))
        .groupBy("grp").agg(min(col("yc")).as("q1c"))
      val q3 = cum.filter(col("cum") * 4 >= col("ng") * 3)
        .groupBy("grp").agg(min(col("yc")).as("q3c"))
      val fences = q1.join(q3, "grp")
        .withColumn("iqrc", col("q3c") - col("q1c"))
        .withColumn("lo2", lit(2L) * col("q1c") - lit(3L) * col("iqrc"))
        .withColumn("hi2", lit(2L) * col("q3c") + lit(3L) * col("iqrc"))
      hist.join(broadcast(fences), "grp")
        .groupBy(col("grp"), col("q1c"), col("q3c"), col("iqrc"),
          col("lo2"), col("hi2"))
        .agg(sum(when(col("yc") * 2 < col("lo2"), col("cnt"))
            .otherwise(0L)).cast("long").as("n_below"),
          sum(when(col("yc") * 2 > col("hi2"), col("cnt"))
            .otherwise(0L)).cast("long").as("n_above"),
          sum(col("cnt")).cast("long").as("n"))
        .select(col("grp").as("priority"), col("n"),
          detRound(col("q1c").cast("double") / 100.0, 2).as("q1"),
          detRound(col("q3c").cast("double") / 100.0, 2).as("q3"),
          detRound(col("iqrc").cast("double") / 100.0, 2).as("iqr"),
          detRound(col("lo2").cast("double") / 200.0, 4).as("fence_lo"),
          detRound(col("hi2").cast("double") / 200.0, 4).as("fence_hi"),
          col("n_below").as("n_outliers_below"),
          col("n_above").as("n_outliers_above"))
        .orderBy("priority")
    }),

    "x_theil_inequality" -> ((s, d) => {
      // Theil T index of customer revenue inequality with the
      // between/within-nation decomposition (Theil 1967) — the
      // property x_gini_concentration structurally lacks: T =
      // T_between + Σ w_g·T_g EXACTLY, so one number splits into
      // "nations differ" vs "customers within a nation differ".
      // T = Σ s_i·ln(s_i·N) over positive-revenue customers with
      // s_i = r_i/ΣR; the between term replaces each customer by its
      // nation aggregate (w_g·ln(w_g·N/N_g)), the within term is the
      // revenue-share-weighted sum of per-nation Theils — all three
      // off the SAME grouped tables. Revenue is DECIMAL-exact at both
      // grains; every ln term is 1e12-quantized before its integer
      // sum (order-free), so the decomposition identity holds to the
      // quantizer in both engines (the spec pins it against a plain-
      // double recompute). Scale: one fact groupBy to O(customers)
      // skinny rows + a dimension join, O(nations) grouped rows,
      // broadcast scalars — no unbounded window anywhere.
      val pc = t(s, d, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("revd"))
        .join(t(s, d, "customer").select(col("c_custkey").as("ck"),
          col("c_nationkey").cast("long").as("nk")), "ck")
        .filter(col("revd").cast("double") > 0)
        .select(col("ck"), col("nk"), col("revd"))
        .localCheckpoint()
      val tot = pc.agg(count(lit(1)).as("n"), sum(col("revd")).as("td"))
        .select(col("n"), col("td").cast("double").as("tt"))
      val totalT = pc.crossJoin(broadcast(tot))
        .withColumn("r", col("revd").cast("double"))
        .select(floor(col("r") / col("tt")
          * log(col("r") / col("tt") * col("n")) * 1e12 + 0.5)
          .cast("long").as("qt"))
        .agg(sum(col("qt").cast("decimal(38,0)")).as("qq"))
        .select((col("qq").cast("double") / 1e12).as("theil_total"))
      val ng = pc.groupBy(col("nk"))
        .agg(count(lit(1)).as("cg"), sum(col("revd")).as("rgd"))
        .withColumn("rg", col("rgd").cast("double"))
        .select("nk", "cg", "rg")
        .localCheckpoint()
      val between = ng.crossJoin(broadcast(tot))
        .select(floor(col("rg") / col("tt")
          * log(col("rg") / col("tt") * col("n") / col("cg"))
          * 1e12 + 0.5).cast("long").as("qb"))
        .agg(sum(col("qb").cast("decimal(38,0)")).as("qq"))
        .select((col("qq").cast("double") / 1e12).as("theil_between"))
      val within = pc.join(broadcast(ng), "nk")
        .withColumn("r", col("revd").cast("double"))
        .select(col("nk"), col("rg"),
          floor(col("r") / col("rg")
            * log(col("r") / col("rg") * col("cg")) * 1e12 + 0.5)
            .cast("long").as("qw"))
        .groupBy(col("nk"), col("rg"))
        .agg(sum(col("qw").cast("decimal(38,0)")).as("qtg"))
        .crossJoin(broadcast(tot))
        .select(floor(col("rg") / col("tt")
          * (col("qtg").cast("double") / 1e12) * 1e12 + 0.5)
          .cast("long").as("qwg"))
        .agg(sum(col("qwg").cast("decimal(38,0)")).as("qq"))
        .select((col("qq").cast("double") / 1e12).as("theil_within"))
      // n_customers rides off the tot aggregate already in the plan (a
      // separate count would re-aggregate the checkpoint)
      val nn = tot.select(col("n").as("n_customers"))
      val nnat = ng.agg(count(lit(1)).as("n_nations"))
      nn.crossJoin(broadcast(nnat)).crossJoin(broadcast(totalT))
        .crossJoin(broadcast(between)).crossJoin(broadcast(within))
        .select(col("n_customers"), col("n_nations"),
          detRound(col("theil_total"), 6).as("theil_total"),
          detRound(col("theil_between"), 6).as("theil_between"),
          detRound(col("theil_within"), 6).as("theil_within"),
          detRound(when(col("theil_total") > 0,
            col("theil_between") / col("theil_total")), 6)
            .as("between_share"))
    }),

    "x_hoover_index" -> ((s, d) => {
      // Hoover / Robin Hood index of customer revenue inequality
      // (Hoover 1936) — the third member of the inequality family with
      // the operational reading gini and Theil lack: H = ½·Σ|s_i − 1/N|
      // is exactly the SHARE OF TOTAL REVENUE that would have to move
      // between customers to equalize them. Same O(customers) grouped
      // grain as x_theil_inequality (DECIMAL-exact revenue per
      // customer), each |share − 1/N| term 1e12-quantized before the
      // order-free DECIMAL sum, one broadcast scalar join — no window,
      // no unbounded broadcast, one fact pass.
      val pc = t(s, d, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("revd"))
        .localCheckpoint() // grain forked by tot + qsum — scan once
      val tot = pc.agg(count(lit(1)).as("n"), sum(col("revd")).as("td"))
        .select(col("n"), col("td").cast("double").as("tt"))
      val qsum = pc.crossJoin(broadcast(tot))
        .select(floor(abs(col("revd").cast("double") / col("tt")
          - lit(1.0) / col("n")) * 1e12 + 0.5).cast("long").as("qh"))
        .agg(sum(col("qh").cast("decimal(38,0)")).as("qq"))
      tot.crossJoin(broadcast(qsum))
        .select(col("n").as("n_customers"),
          detRound(col("tt"), 2).as("total_revenue"),
          detRound(col("qq").cast("double") / 1e12 * 0.5, 6)
            .as("hoover_index"))
    }),

    "x_atkinson_index" -> ((s, d) => {
      // Atkinson welfare-based inequality index (Atkinson, JET 1970) —
      // the NORMATIVE member of the inequality family: A_ε is the
      // share of total revenue society could discard and be exactly as
      // well off under equal distribution, given inequality aversion
      // ε. Two standard settings in one row: ε = 0.5
      // (A = 1 − (Σ√r/N)²/μ) and ε = 1 (A = 1 − geomean/μ). Unlike
      // gini (rank-based) and Theil (entropy), A_ε is the only member
      // with an explicit social-welfare reading, and ε = 1's geometric
      // mean makes it the most bottom-sensitive of the four. Same
      // positive-revenue O(customers) grain as x_theil_inequality
      // (ln needs r > 0); √r terms 1e9-quantized and ln terms
      // 1e12-quantized before their order-free DECIMAL sums; one fact
      // pass, one aggregate, no window, no join at all.
      t(s, d, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("revd"))
        .filter(col("revd").cast("double") > 0)
        .select(col("revd"), col("revd").cast("double").as("r"))
        .agg(count(lit(1)).as("n"), sum(col("revd")).as("td"),
          sum(floor(sqrt(col("r")) * 1e9 + 0.5).cast("long")
            .cast("decimal(38,0)")).as("q05"),
          sum(floor(log(col("r")) * 1e12 + 0.5).cast("long")
            .cast("decimal(38,0)")).as("q1"))
        .withColumn("mu", col("td").cast("double") / col("n"))
        .withColumn("m05", col("q05").cast("double") / 1e9 / col("n"))
        .withColumn("m1", col("q1").cast("double") / 1e12 / col("n"))
        .select(col("n").as("n_customers"),
          detRound(col("mu"), 2).as("mean_revenue"),
          detRound(lit(1.0) - col("m05") * col("m05") / col("mu"), 6)
            .as("atkinson_05"),
          detRound(lit(1.0) - exp(col("m1")) / col("mu"), 6)
            .as("atkinson_1"))
    }),

    "x_palma_ratio" -> ((s, d) => {
      // Palma ratio (Palma 2011; Cobham & Sumner 2013) — the
      // tail-focused inequality member: top-10% revenue share over
      // bottom-40% share, built on the observation that the middle
      // 50%'s share is empirically stable, so ALL the distributional
      // action is in the two tails gini averages away. Ranks from the
      // scale-safe globalRank decomposition over the O(customers)
      // grouped grain; both tail cuts are pure integer thresholds
      // ((4n) div 10 and n − n div 10 — never percentile floats);
      // revenue stays in exact 1e4 fixed-point longs until the three
      // final divisions.
      // customer grain checkpointed — globalRank + totals fork it three
      // ways, and the barrier keeps the fact pass to one
      val rev = t(s, d, "orders")
        .groupBy(col("o_custkey").cast("long").as("ck"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double").as("rv"))
        .withColumn("rq", floor(col("rv") * 1e4 + 0.5).cast("long"))
        .localCheckpoint()
      val ranked = globalRank(rev, "rq", Seq("ck"), "i")
      val tot = ranked.agg(count(lit(1)).cast("long").as("n"),
        sum(col("rq").cast("decimal(38,0)")).as("trq"))
      ranked.crossJoin(broadcast(tot))
        .groupBy(col("n"), col("trq"))
        .agg(
          sum(when(col("i") <= expr("(n * 4) div 10"), col("rq"))
            .otherwise(0L).cast("decimal(38,0)")).as("bot"),
          sum(when(col("i") > col("n") - expr("n div 10"), col("rq"))
            .otherwise(0L).cast("decimal(38,0)")).as("top"))
        .select(col("n").as("n_customers"),
          detRound(col("bot").cast("double")
            / col("trq").cast("double"), 6).as("bottom40_share"),
          detRound(col("top").cast("double")
            / col("trq").cast("double"), 6).as("top10_share"),
          detRound(when(col("bot") > 0, col("top").cast("double")
            / col("bot").cast("double")), 6).as("palma_ratio"))
    }),

    "x_page_trend" -> ((s, d) => {
      // Page's L test for an ORDERED alternative across related
      // blocks (Page, JASA 1963) — to x_friedman_test exactly what
      // Jonckheere–Terpstra is to Kruskal–Wallis: the priority labels
      // carry a natural order (1-URGENT < … < 5-LOW, the leading
      // digit), so a directional monotone-revenue hypothesis gets
      // strictly more power than Friedman's any-difference
      // alternative. Same complete-block month×priority cells, same
      // doubled-average-rank integers (2r̄ = 2·rank + ties − 1);
      // L = Σ_j j·R_j is carried as the exact integer 2L, and
      // μ_L = b·k(k+1)²/4, σ²_L = b·(k³−k)²/(144(k−1)) come from the
      // data-decided b and k (never embedded fixture constants) with
      // the sqrt sign-guarded. Windows run over the O(months×k) cell
      // table only.
      val ranked = rankedR2(completeBlocks(revBlockCells(s, d)))
        .withColumn("j", substring(col("trt"), 1, 1).cast("long"))
      ranked.groupBy(col("k"))
        .agg(sum(col("j") * col("r2")).cast("long").as("l2"),
          countDistinct(col("blk")).cast("long").as("b"))
        .withColumn("bD", col("b").cast("double"))
        .withColumn("kD", col("k").cast("double"))
        .withColumn("mu", col("bD") * col("kD") * (col("kD") + 1)
          * (col("kD") + 1) / 4.0)
        .withColumn("k3", col("kD") * col("kD") * col("kD") - col("kD"))
        .withColumn("vr", when(col("kD") > 1,
          col("bD") * col("k3") * col("k3")
            / (lit(144.0) * (col("kD") - 1))))
        .withColumn("sg", when(col("vr") > 0, sqrt(col("vr"))))
        .withColumn("l", col("l2").cast("double") / 2.0)
        .withColumn("z",
          when(col("sg") > 0, (col("l") - col("mu")) / col("sg")))
        .select(col("b").as("n_blocks"), col("k").as("k_treatments"),
          detRound(col("l"), 1).as("l_stat"),
          detRound(col("mu"), 1).as("mu_l"),
          detRound(col("sg"), 4).as("sigma_l"),
          detRound(col("z"), 4).as("z"),
          (col("z") > lit(1.645)).as("increasing_05"),
          (col("z") < lit(-1.645)).as("decreasing_05"))
    }),

    "x_cochran_q" -> ((s, d) => {
      // Cochran's Q (Biometrika 1950) for k related BINARY responses
      // — the dichotomous member of the complete-block family
      // (Friedman ranks continuous cells; Q is its 0/1
      // specialization): per month block × priority, the response is
      // "this cell's fulfilled rate beats the pooled rate", decided
      // by the EXACT integer cross-compare cf·tn > n·tk (never a
      // float ratio; products promoted to DECIMAL because fact-count
      // × fact-count overflows LONG at scale), pooled over the
      // complete-block universe itself. Q = (k−1)(k·ΣC_j² − N²) /
      // (k·N − ΣR_i²) — all-integer sums over calendar-bounded
      // grains, one division at the end (NULL-guarded: a saturated
      // all-equal table makes the denominator 0), χ²(k−1) 5%
      // critical by the friedman lookup convention (data-decided k,
      // NULL outside the table rather than a wrong verdict).
      val full = completeBlocks(t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("blk"),
          col("o_orderpriority").as("trt"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .cast("long").as("cf")))
      val pooled = full.agg(sum(col("n")).cast("long").as("tn"),
        sum(col("cf")).cast("long").as("tk"))
      val flags = full.crossJoin(broadcast(pooled))
        .withColumn("x",
          when(col("cf").cast("decimal(38,0)") * col("tn")
            > col("n").cast("decimal(38,0)") * col("tk"), 1L)
            .otherwise(0L))
        .localCheckpoint()
      val colAgg = flags.groupBy(col("trt"), col("k"))
        .agg(sum(col("x")).cast("long").as("c"))
        .groupBy(col("k"))
        .agg(sum(col("c")).cast("long").as("nt"),
          sum(col("c") * col("c")).cast("long").as("sc2"))
      val rowAgg = flags.groupBy(col("blk"))
        .agg(sum(col("x")).cast("long").as("r"))
        .agg(count(lit(1)).cast("long").as("b"),
          sum(col("r") * col("r")).cast("long").as("sr2"))
      colAgg.crossJoin(broadcast(rowAgg))
        .withColumn("num", (col("k") - 1)
          * (col("k") * col("sc2") - col("nt") * col("nt")))
        .withColumn("den", col("k") * col("nt") - col("sr2"))
        .withColumn("q",
          when(col("den") > 0, col("num").cast("double") / col("den")))
        .select(col("b").as("n_blocks"), col("k").as("k_treatments"),
          col("nt").as("n_success_total"),
          detRound(col("q"), 4).as("q_stat"),
          (col("q") > chi2Crit05(col("k"))).as("reject_05"))
    }),

    "x_hill_tail_index" -> ((s, d) => {
      // Hill estimator of the Pareto tail exponent over the top-200
      // order values — the heavy-tail diagnostic that says whether means
      // and variances of spend are even finite-sample-stable (α ≤ 2 →
      // variance diverges). The order-statistics prefix is a bounded
      // TakeOrderedAndProject (201 rows at any SF, never a global sort);
      // ties at the threshold are harmless by construction because a
      // tied row contributes ln(v/threshold) = 0 exactly, so summing all
      // 201 quantized terms equals summing "the top 200" regardless of
      // which tie the limit kept. Per-term ln is 1e6-quantized before
      // the integer sum (the x_zipf_fit discipline).
      val top = t(s, d, "orders").select(col("o_totalprice").as("v"))
        .orderBy(desc("v")).limit(201)
      val thr = top.agg(min(col("v")).as("xk1"))
      top.crossJoin(broadcast(thr))
        .select(floor(log(col("v") / col("xk1")) * 1e6 + lit(0.5))
          .cast("long").as("q"), col("xk1"))
        .groupBy("xk1")
        .agg(count(lit(1)).as("n_top"), sum(col("q")).as("qsum"))
        .select(lit(200L).as("k"),
          detRound(col("xk1"), 2).as("threshold_value"),
          detRound(lit(1.0) /
            (col("qsum").cast("double") / 1e6 / 200.0), 6)
            .as("hill_alpha"))
    }),

    "x_mahalanobis_outliers" -> ((s, d) => {
      // multivariate outliers by Mahalanobis distance over the
      // (quantity, price-in-cents) pair — the joint-anomaly detector a
      // univariate z-score can't replicate (a 2σ quantity with a 2σ
      // price in the WRONG direction is a huge joint outlier). One
      // grouped pass accumulates the five exact integer moment sums in
      // DECIMAL(38,0)/HUGEINT; the 2×2 covariance, its closed-form
      // inverse, and each row's d² are then pure double arithmetic on
      // exact inputs (identical IEEE both engines), evaluated map-side
      // with the five broadcast scalars. Top-15 via
      // TakeOrderedAndProject on the 1e9-quantized distance.
      val rows = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long")
            .as("l_linenumber"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
            .as("y"))
      val mom = rows.agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("y").cast("decimal(38,0)") * col("y")
          .cast("decimal(38,0)"))).as("syy"))
        .select(col("n").cast("double").as("dn"),
          col("sx").cast("double").as("sx"),
          col("sy").cast("double").as("sy"),
          col("sxx").cast("double").as("sxx"),
          col("sxy").cast("double").as("sxy"),
          col("syy").cast("double").as("syy"))
        .withColumn("mx", col("sx") / col("dn"))
        .withColumn("my", col("sy") / col("dn"))
        .withColumn("vxx", col("sxx") / col("dn") - col("mx") * col("mx"))
        .withColumn("vyy", col("syy") / col("dn") - col("my") * col("my"))
        .withColumn("vxy", col("sxy") / col("dn") - col("mx") * col("my"))
        .withColumn("det",
          col("vxx") * col("vyy") - col("vxy") * col("vxy"))
        .select("mx", "my", "vxx", "vyy", "vxy", "det")
      rows.crossJoin(broadcast(mom))
        .withColumn("dx", col("x").cast("double") - col("mx"))
        .withColumn("dy", col("y").cast("double") - col("my"))
        .withColumn("d2",
          (col("dx") * col("dx") * col("vyy") -
            lit(2.0) * col("dx") * col("dy") * col("vxy") +
            col("dy") * col("dy") * col("vxx")) / col("det"))
        .withColumn("qd2", floor(col("d2") * 1e9 + lit(0.5)).cast("long"))
        .orderBy(desc("qd2"), asc("l_orderkey"), asc("l_linenumber"))
        .limit(15)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("x").as("quantity"), col("y").as("price_cents"),
          detRound(col("d2"), 6).as("mahalanobis_d2"))
    }),

    "x_moments" -> ((s, d) => {
      // higher-moment distribution profile (skewness + excess kurtosis)
      // of order value per priority — the shape diagnostics behind
      // "is this segment's spend long-tailed or peaked". Values are
      // floored to whole dollars so all four power sums are INTEGERS:
      // S1..S4 accumulate in DECIMAL(38,0)/HUGEINT (x⁴ ≈ 1.3e23 per row
      // → safe past 1e14 rows), and the central-moment closed forms run
      // in double on the exact sums — both engines do identical IEEE
      // arithmetic on identical inputs, so the hash compare holds
      // without any tolerance. One grouped pass, map-side partials,
      // shuffle = O(priorities).
      t(s, d, "orders")
        .select(col("o_orderpriority").as("priority"),
          floor(col("o_totalprice")).cast("decimal(9,0)").as("x"))
        .groupBy("priority")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"),
          sum(col("x") * col("x") * col("x")).as("s3"),
          sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
        .withColumn("dn", col("n").cast("double"))
        .withColumn("mu", col("s1").cast("double") / col("dn"))
        .withColumn("m2", col("s2").cast("double") / col("dn") -
          col("mu") * col("mu"))
        .withColumn("m3", col("s3").cast("double") / col("dn") -
          lit(3.0) * col("mu") * (col("s2").cast("double") / col("dn")) +
          lit(2.0) * col("mu") * col("mu") * col("mu"))
        .withColumn("m4", col("s4").cast("double") / col("dn") -
          lit(4.0) * col("mu") * (col("s3").cast("double") / col("dn")) +
          lit(6.0) * col("mu") * col("mu") *
            (col("s2").cast("double") / col("dn")) -
          lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
        .select(col("priority"), col("n"),
          detRound(col("mu"), 4).as("mean_dollars"),
          detRound(sqrt(col("m2")), 4).as("stddev_pop"),
          detRound(col("m3") / (col("m2") * sqrt(col("m2"))), 6)
            .as("skewness"),
          detRound(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6)
            .as("excess_kurtosis"))
        .orderBy("priority")
    }),

    "x_fisher_exact" -> ((s, d) => {
      // Fisher's exact test (1935) of the 2×2 rare-event table: top-value
      // order (o_totalprice > 480k, ~4% of orders) × urgent/high
      // priority. x_chi2_independence is the scale path for dense
      // tables; Fisher is the SMALL-MARGIN exact test, and its cost here
      // is O(rare margin), never O(rows): the four cells come from one
      // fact scan, then the hypergeometric enumeration runs over
      // k = 0..min(r1,c1) generated rows. Log-probabilities use the
      // ratio recurrence p_k/p_{k−1} = (r1−k+1)(c1−k+1)/(k·(r2−c1+k))
      // — each log-delta 1e9-quantized BEFORE the cumulative sum (the
      // x_lm_score ln discipline: both engines' libm agree far inside
      // the quantizer), the base term ln p₀ = Σᵢ ln((r2−i)/(n−i)) a
      // 1e9-quantized i-ladder, so the two-sided rule "sum p_k over
      // tables with qlp_k ≤ qlp_obs" compares exact integers. Each
      // probability is exp() of an identical double, 1e15-quantized
      // before the final sum (at 1e12 every term below 5e-13 would
      // truncate to 0, understating p by up to n_tables·5e-13 — at
      // 1e15 the bound is n_tables·5e-16, below the 1e-8 output
      // rounding even at millions of tables; the sum stays ≤ 1e21,
      // far inside DECIMAL(38,0)/HUGEINT). Requires kmin =
      // max(0, r1+c1−n) = 0 (guaranteed while the rare margin is under
      // half the corpus).
      val cnt = t(s, d, "orders").agg(
        count(lit(1)).cast("long").as("n"),
        sum(when(col("o_totalprice") > 480000.0, 1L).otherwise(0L))
          .cast("long").as("c1"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).cast("long").as("r1"),
        sum(when(col("o_totalprice") > 480000.0 &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).cast("long").as("a"))
        .withColumn("r2", col("n") - col("r1"))
        .localCheckpoint()
      // range filters guard the degenerate margins: Spark sequence(a, b)
      // with a > b silently generates a DESCENDING range (c1 = 0 would
      // inject i = -1 garbage; min(r1,c1) = 0 would inject j = 0 and a
      // duplicate ladder row), where DuckDB's range() is empty — the
      // explicit bounds make both engines produce the same row set.
      val base = cnt
        .select(col("c1"), col("r2"), col("n"),
          explode(sequence(lit(0L), greatest(col("c1") - 1, lit(0L))))
            .as("i"))
        .filter(col("i") < col("c1"))
        .select(floor((log(col("r2") - col("i")) - log(col("n") - col("i")))
          * 1e9 + 0.5).cast("long").as("qt"))
        .agg(sum(col("qt")).cast("long").as("l0"))
      val steps = cnt
        .select(col("r1"), col("c1"), col("r2"),
          explode(sequence(lit(1L),
            greatest(least(col("r1"), col("c1")), lit(1L)))).as("j"))
        .filter(col("j") >= 1 && col("j") <= least(col("r1"), col("c1")))
        .withColumn("qd", floor((log(col("r1") - col("j") + 1)
          + log(col("c1") - col("j") + 1) - log(col("j"))
          - log(col("r2") - col("c1") + col("j"))) * 1e9 + 0.5)
          .cast("long"))
      val wk = Window.orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lp = steps
        .select(col("j").as("k"), sum(col("qd")).over(wk).as("cqd"))
        .unionByName(cnt.select(lit(0L).as("k"), lit(0L).as("cqd")))
        .crossJoin(broadcast(base))
        .withColumn("qlp", col("l0") + col("cqd"))
        .localCheckpoint()
      val obs = lp.crossJoin(broadcast(cnt.select(col("a").as("ka"))))
        .filter(col("k") === col("ka")).select(col("qlp").as("qobs"))
      lp.crossJoin(broadcast(obs))
        .filter(col("qlp") <= col("qobs"))
        .agg(sum(floor(exp(col("qlp").cast("double") / 1e9) * 1e15 + 0.5)
          .cast("decimal(38,0)")).as("qp"),
          count(lit(1)).cast("long").as("n_tables"))
        .withColumn("p", col("qp").cast("double") / 1e15)
        .crossJoin(broadcast(cnt))
        .select(col("a").as("n11"), (col("r1") - col("a")).as("n12"),
          (col("c1") - col("a")).as("n21"),
          (col("r2") - col("c1") + col("a")).as("n22"),
          col("n_tables"),
          detRound(when((col("r1") - col("a")) * (col("c1") - col("a")) > 0,
            col("a").cast("double") * (col("r2") - col("c1") + col("a"))
              / ((col("r1") - col("a")) * (col("c1") - col("a")))), 6)
            .as("odds_ratio"),
          // c1 = 0: the observed table is the ONLY table — p is 1 by
          // definition (the enumeration machinery has nothing to sum)
          detRound(when(col("c1") === 0, lit(1.0)).otherwise(col("p")), 8)
            .as("p_two_sided"),
          (when(col("c1") === 0, lit(1.0)).otherwise(col("p")) < 0.05)
            .as("significant_05"))
    }),

    "x_friedman_test" -> ((s, d) => {
      // Friedman's rank test (1937) for k related samples — the
      // repeated-measures companion to x_kruskal_wallis: does priority
      // affect revenue CONSISTENTLY across months, with each month its
      // own block (controlling for the secular level x_kruskal_wallis
      // pools away)? Blocks are month×priority revenue cells; only
      // COMPLETE blocks (all k treatments present) enter, the test's
      // own requirement. Ranks within block use the doubled-average-rank
      // trick (2·r̄ = 2·rank + ties − 1, exact integers; revenue is
      // DECIMAL-exact so both engines order identically), the statistic
      // is integer arithmetic until two final divisions, and the tie
      // correction is Conover's C = 1 − Σ(t³−t)/(n·k·(k²−1)). Windows
      // run over the O(months×k) cell table only.
      val full = completeBlocks(revBlockCells(s, d))
      val ranked = rankedR2(full)
      val rsums = blockRankSums(ranked)
      val ties = blockTies(full)
      rsums
        .groupBy(col("k"), col("nb"))
        .agg(sum(col("r2j") * col("r2j")).cast("decimal(38,0)").as("sr2"))
        .crossJoin(broadcast(ties))
        .withColumn("q",
          lit(12.0) / (col("nb") * col("k") * (col("k") + 1))
            * (col("sr2").cast("double") / 4.0)
            - lit(3.0) * col("nb") * (col("k") + 1))
        .withColumn("cc", lit(1.0) - col("st3").cast("double")
          / (col("nb").cast("double") * col("k")
            * (col("k") * col("k") - 1)))
        // cc = 0 when every revenue ties within every block (st3 =
        // nb·k·(k²−1)): Spark double-div-by-zero yields Inf/NaN while
        // DuckDB differs — the degenerate case returns NULL like the
        // rest of this family
        .withColumn("qc", when(col("cc") > 0, col("q") / col("cc")))
        .select(col("nb").as("n_blocks"), col("k").as("k_treatments"),
          detRound(col("q"), 4).as("q_stat"),
          detRound(col("qc"), 4).as("q_tie_corrected"),
          // chi-square 0.05 critical value looked up by df = k−1 (the
          // data decides k, so a hardcoded fixture value would silently
          // mis-flag a different treatment count); k outside the table
          // emits NULL rather than a wrong verdict
          (col("qc") > chi2Crit05(col("k"))).as("reject_05"))
    }),

    "x_kendalls_w" -> ((s, d) => {
      // Kendall's coefficient of concordance W (Kendall & Babington
      // Smith 1939) — the EFFECT SIZE x_friedman_test's verdict lacks:
      // Friedman's χ² says whether the months agree on a priority
      // revenue ordering AT ALL (and grows with b, so it compares
      // poorly across spans); W ∈ [0, 1] says HOW STRONGLY they agree
      // (1 = every month ranks the k priorities identically). Same
      // complete-block month×priority cells, same doubled-average-rank
      // integers; 12·S = 3·Σ(2R_j − b(k+1))² keeps every term exact
      // (2R_j is the r2j integer), and the denominator is Legendre's
      // tie-corrected b²k(k²−1) − b·Σ(t³−t), DECIMAL-promoted since
      // b³-scale products outgrow LONG on long calendars. The spec
      // pins the identity χ²_F(tie-corrected) = b(k−1)·W against
      // x_friedman_test's own output. Windows over the O(months×k)
      // cell table only.
      val full = completeBlocks(revBlockCells(s, d))
      val ranked = rankedR2(full)
      val rsums = blockRankSums(ranked)
      val ties = blockTies(full)
      rsums.groupBy(col("k"), col("nb"))
        // promote the deviation BEFORE squaring: a post-multiply cast
        // would let the LONG product wrap first on exactly the b-scale
        // the promotion exists for; the SQL twin multiplies in HUGEINT,
        // so this is also the parity form
        .agg(sum((col("r2j") - col("nb") * (col("k") + 1))
          .cast("decimal(38,0)")
          * (col("r2j") - col("nb") * (col("k") + 1))).as("s4"))
        .crossJoin(broadcast(ties))
        .withColumn("den",
          col("nb").cast("decimal(38,0)") * col("nb") * col("k")
            * (col("k") * col("k") - 1)
            - col("nb").cast("decimal(38,0)") * col("st3"))
        .withColumn("w", when(col("den") > 0,
          lit(3.0) * col("s4").cast("double")
            / col("den").cast("double")))
        .withColumn("chi2w", col("nb") * (col("k") - 1) * col("w"))
        .select(col("nb").as("n_blocks"), col("k").as("k_treatments"),
          detRound(col("w"), 6).as("kendalls_w"),
          detRound(col("chi2w"), 4).as("chi2_from_w"),
          (col("chi2w") > chi2Crit05(col("k"))).as("reject_05"))
    }),

    "x_quade_test" -> ((s, d) => {
      // Quade's weighted rank test (JASA 1979) on the shared complete-
      // block spine — the Friedman variant with more power when the
      // treatment effect SCALES with the block's level: each month's
      // within-block ranks are weighted by the rank of that month's
      // revenue RANGE across months, so high-spread blocks (where a
      // real priority effect has room to show) dominate the statistic.
      // S_ij = Q_i·(r_ij − (k+1)/2) with Q_i the block-range average
      // rank; F = (b−1)B/(A−B), A = ΣS²_ij, B = ΣS²_j/b, df = (k−1),
      // (b−1)(k−1). EXACT integer form throughout: with doubled average
      // ranks q2 = 2·rank + ties − 1 (blocks, by DECIMAL-exact range)
      // and r2 (within block, the shared rankedR2), 4·S_ij =
      // q2_i·(r2_ij − (k+1)) is a plain integer, so 16A and 16bB are
      // integer sums and F = (b−1)·Σ(4S_j)² / (b·Σ(4S_ij)² − Σ(4S_j)²)
      // is a ratio of exact integers — no float rank arithmetic to
      // diverge on. Windows over the O(months×k) cell table and the
      // O(months) range table only. reject_05 uses the large-sample
      // F(k−1, ∞) = χ²_{k−1}/(k−1) critical (honest only when the
      // error df is big — NULL below 120, the table convention).
      val full = completeBlocks(revBlockCells(s, d))
      val ranked = rankedR2(full)
      val ranges = full.groupBy(col("blk"))
        .agg((max(col("rev")) - min(col("rev"))).as("rng"))
        .withColumn("qrnk", rank().over(Window.orderBy("rng")))
        .withColumn("qt", count(lit(1)).over(Window.partitionBy("rng")))
        .withColumn("q2", lit(2L) * col("qrnk") + col("qt") - 1L)
        .select(col("blk"), col("q2"))
      val sc = ranked.join(broadcast(ranges), "blk")
        .withColumn("s4", col("q2") * (col("r2") - (col("k") + 1)))
      val a16 = sc.agg(
        sum(col("s4").cast("decimal(38,0)") * col("s4")).as("a16"))
      sc.groupBy(col("trt"), col("k"))
        .agg(sum(col("s4")).cast("long").as("sj4"),
          count(lit(1)).cast("long").as("nb"))
        .groupBy(col("k"), col("nb"))
        // promote BEFORE multiplying, as in x_kendalls_w
        .agg(sum(col("sj4").cast("decimal(38,0)") * col("sj4")).as("b16"))
        .crossJoin(broadcast(a16))
        .withColumn("fden",
          col("nb").cast("double") * col("a16").cast("double")
            - col("b16").cast("double"))
        .withColumn("f", when(col("fden") > 0,
          (col("nb") - 1).cast("double") * col("b16").cast("double")
            / col("fden")))
        .withColumn("df2", (col("nb") - 1) * (col("k") - 1))
        .select(col("nb").as("n_blocks"), col("k").as("k_treatments"),
          detRound(col("a16").cast("double") / 16.0, 4).as("quade_a"),
          detRound(col("b16").cast("double") / 16.0
            / col("nb").cast("double"), 4).as("quade_b"),
          detRound(col("f"), 6).as("f_stat"),
          (col("k") - 1).cast("long").as("df1"),
          col("df2").cast("long").as("df2"),
          when(col("df2") >= 120, col("f") >
            chi2Crit05(col("k")) / (col("k") - 1).cast("double"))
            .as("reject_05"))
    }),

    "x_nemenyi_posthoc" -> ((s, d) => {
      // Nemenyi post-hoc pairwise comparison (Nemenyi 1963; the
      // critical-difference procedure of Demšar, JMLR 2006) — the
      // WHICH-PAIRS answer the whole complete-block family stops short
      // of: Friedman/Quade say "the k treatments differ somewhere",
      // Nemenyi says which priority pairs actually separate, via the
      // studentized-range critical difference CD = q_α·√(k(k+1)/(6b))
      // over the average ranks. Average ranks come from the shared
      // doubled-rank sums (R̄_j = r2j/2/b — exact integers until one
      // division), the pair diff is |r2j_a − r2j_b|/(2b) (integer
      // numerator), and q_α is the Demšar table literal for the
      // data-decided k (α = 0.05, df = ∞; k outside 2..6 → NULL, the
      // friedman lookup convention). Output k(k−1)/2 pair rows off the
      // O(k) rank-sum table — every join a broadcast of an aggregate.
      val full = completeBlocks(revBlockCells(s, d))
      val rsums = blockRankSums(rankedR2(full))
      val a = rsums.select(col("trt").as("trt_a"), col("k"), col("nb"),
        col("r2j").as("r2ja"))
      val bb = rsums.select(col("trt").as("trt_b"),
        col("r2j").as("r2jb"))
      val qa = when(col("k") === 2, lit(1.959964))
        .when(col("k") === 3, lit(2.343701))
        .when(col("k") === 4, lit(2.569032))
        .when(col("k") === 5, lit(2.727747))
        .when(col("k") === 6, lit(2.849705))
      a.join(broadcast(bb), col("trt_a") < col("trt_b"))
        .withColumn("diff", abs(col("r2ja") - col("r2jb")).cast("double")
          / (lit(2.0) * col("nb")))
        .withColumn("cd", qa * sqrt((col("k") * (col("k") + 1))
          / (lit(6.0) * col("nb"))))
        .select(col("trt_a"), col("trt_b"),
          col("nb").as("n_blocks"), col("k").as("k_treatments"),
          detRound(col("r2ja").cast("double") / 2.0 / col("nb"), 6)
            .as("rank_a"),
          detRound(col("r2jb").cast("double") / 2.0 / col("nb"), 6)
            .as("rank_b"),
          detRound(col("diff"), 6).as("rank_diff"),
          detRound(col("cd"), 6).as("crit_diff"),
          (col("diff") > col("cd")).as("significant"))
        .orderBy("trt_a", "trt_b")
    }),

    "x_rank_biased_overlap" -> ((s, d) => {
      // Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between
      // the supplier-by-REVENUE and supplier-by-QUANTITY rankings — the
      // top-weighted list-comparison metric a pipeline uses to ask "do
      // two quality signals agree where it matters?" (x_rank_correlation
      // weights every rank equally; RBO geometrically discounts depth,
      // and is defined for non-conjoint prefixes). Key identity that
      // makes it distributed: overlap(d) = #{items whose max(rank_a,
      // rank_b) ≤ d}, so the whole prefix-agreement curve is ONE
      // cumulative sum over the max-rank histogram — no per-depth set
      // intersection. Truncated at depth 100 with p = 0.98; the
      // per-depth weights (1−p)·p^(d−1)/d are driver-computed 1e15
      // fixed-point literals (no pow at query time), so rbo_lo is an
      // exact integer sum, and the UNSEEN tail mass is reported as the
      // bracket rbo_hi = rbo_lo + p^100 instead of silently truncated
      // (the no-silent-caps rule: a reader sees the bound, not a
      // point estimate pretending to be exact). Ranks via globalRank
      // on negated fixed-point values (desc, suppkey ties).
      val base = t(s, d, "lineitem")
        .groupBy(col("l_suppkey").cast("long").as("sk"))
        .agg(sum(graft.types.Coercions.revenue(
          col("l_extendedprice"), col("l_discount")))
          .cast("double").as("rev"),
          (sum(floor(col("l_quantity") * 1e4 + 0.5)
            .cast("decimal(38,0)")).cast("double") / 1e4).as("qty"))
        .withColumn("rqn", -floor(col("rev") * 1e4 + 0.5).cast("long"))
        .withColumn("qqn", -floor(col("qty") * 1e4 + 0.5).cast("long"))
        .localCheckpoint()
      val n = base.agg(count(lit(1)).cast("long").as("n_suppliers"))
      // Only ranks ≤ RboDepth can ever
      // contribute (the histogram filters m = max(ra, rb) ≤ depth), so
      // each full global rank collapses to a bounded top-k —
      // orderBy(value, sk).limit(depth) plans as TakeOrderedAndProject
      // (per-partition bounded heaps, one O(depth) merge; O(P·depth)
      // bytes moved instead of the full O(suppliers) two-pass rank
      // decomposition), and row_number over the ≤depth-row result
      // reproduces global ranks 1..depth bit-identically: the
      // (value, sk) total order is unique, so the top-depth rows ARE
      // the rows with global rank ≤ depth, in the same order.
      def topRanks(vc: String, out: String): DataFrame =
        base.select(col("sk"), col(vc))
          .orderBy(col(vc), col("sk")).limit(RboDepth)
          .withColumn(out, row_number().over(
            Window.orderBy(col(vc), col("sk"))).cast("long"))
          .select("sk", out)
      val ra = topRanks("rqn", "ra")
      val rb = topRanks("qqn", "rb")
      val mhist = ra.join(rb, "sk")
        .select(greatest(col("ra"), col("rb")).as("m"))
        .filter(col("m") <= RboDepth)
        .groupBy("m").agg(count(lit(1)).cast("long").as("cnt"))
      val qwCase = (1 to RboDepth).foldLeft(when(lit(false), lit(0L))) {
        (acc, i) => acc.when(col("d") === i, lit(rboQW(i)))
      }
      val wCum = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      s.range(1, RboDepth + 1).toDF("d")
        .join(broadcast(mhist), col("d") === col("m"), "left")
        .withColumn("cum", sum(coalesce(col("cnt"), lit(0L))).over(wCum))
        .select((col("cum").cast("decimal(38,0)") * qwCase).as("term"))
        .agg(sum(col("term")).as("rboq"))
        .crossJoin(broadcast(n))
        .select(col("n_suppliers"),
          lit(RboDepth.toLong).as("depth"),
          detRound(lit(RboP), 6).as("p"),
          detRound(col("rboq").cast("double") / 1e15, 6).as("rbo_lo"),
          detRound(col("rboq").cast("double") / 1e15
            + lit(rboTail), 6).as("rbo_hi"))
    }),

    "x_jonckheere_terpstra" -> ((s, d) => {
      // Jonckheere–Terpstra ordered-alternative test (1954): is shipped
      // quantity stochastically INCREASING across ordered discount
      // levels? x_cochran_armitage answers this for proportions and
      // x_kruskal_wallis for the unordered alternative; JT is the
      // ordered k-sample test with strictly more power when the
      // hypothesis has a direction. JT = Σ_{i<j} U_ij decomposes over
      // the dense (level × quantity) histogram grid — two window
      // cumsums (groups-below at fixed value, then values-below per
      // group) give every pair's Mann–Whitney count in one pass, so the
      // fact table is touched once and everything downstream is
      // O(levels × distinct quantities) = 550 rows at any corpus size.
      // Doubled statistic (2U = 2·below + ties) keeps half-counts
      // integer; counts and the tie-corrected variance (Hollander &
      // Wolfe 1999 §6.2) are exact DECIMAL sums of integer products.
      val hist = t(s, d, "lineitem")
        .groupBy(col("l_discount").as("g"),
          col("l_quantity").cast("long").as("v"))
        .agg(count(lit(1)).cast("long").as("c"))
        .localCheckpoint()
      val grid = hist.select("g").distinct()
        .crossJoin(hist.select("v").distinct())
        .join(hist, Seq("g", "v"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val jt2 = exclusiveCum(exclusiveCum(grid, "g", "c", "lowv", "v"),
          "v", "lowv", "below", "g")
        .select((col("c").cast("decimal(19,0)")
          * (lit(2L) * col("below") + col("lowv")).cast("decimal(19,0)"))
          .as("t2"))
        .agg(sum(col("t2")).cast("decimal(38,0)").as("jt2"))
      // cubic terms promote to DECIMAL before multiplying — a long
      // product n_i³ overflows once a group passes ~2M rows
      val gsz = hist.groupBy("g").agg(sum(col("c")).cast("long").as("ni"))
        .withColumn("di", col("ni").cast("decimal(38,0)"))
        .agg(count(lit(1)).as("k"), sum(col("ni")).cast("long").as("nn"),
          sum(col("di") * col("ni")).cast("decimal(38,0)").as("sn2"),
          sum(col("di") * (col("ni") - 1) * (lit(2L) * col("ni") + 5))
            .cast("decimal(38,0)").as("a1"),
          sum(col("di") * (col("ni") - 1) * (col("ni") - 2))
            .cast("decimal(38,0)").as("b1"),
          sum(col("di") * (col("ni") - 1)).cast("decimal(38,0)")
            .as("c1"))
      val tsz = hist.groupBy("v").agg(sum(col("c")).cast("long").as("tv"))
        .withColumn("dv", col("tv").cast("decimal(38,0)"))
        .agg(sum(col("dv") * (col("tv") - 1) * (lit(2L) * col("tv") + 5))
          .cast("decimal(38,0)").as("a2"),
          sum(col("dv") * (col("tv") - 1) * (col("tv") - 2))
            .cast("decimal(38,0)").as("b2"),
          sum(col("dv") * (col("tv") - 1)).cast("decimal(38,0)")
            .as("c2"))
      jt2.crossJoin(broadcast(gsz)).crossJoin(broadcast(tsz))
        .withColumn("dn", col("nn").cast("double"))
        .withColumn("mean2",
          (col("nn").cast("decimal(38,0)") * col("nn") - col("sn2"))
            .cast("double") / 2.0)
        .withColumn("va",
          (col("dn") * (col("dn") - 1) * (lit(2.0) * col("dn") + 5)
            - col("a1").cast("double") - col("a2").cast("double")) / 72.0)
        .withColumn("vb", col("b1").cast("double") * col("b2").cast("double")
          / (lit(36.0) * col("dn") * (col("dn") - 1) * (col("dn") - 2)))
        .withColumn("vc", col("c1").cast("double") * col("c2").cast("double")
          / (lit(8.0) * col("dn") * (col("dn") - 1)))
        // sqrt only on a strictly positive variance: the three terms
        // cancel exactly at k = 1 and float error can land tiny-negative
        // — DuckDB sqrt(<0) THROWS while Spark returns NaN, so both
        // engines guard BEFORE the sqrt
        .withColumn("sg", when(col("va") + col("vb") + col("vc") > 0,
          sqrt(col("va") + col("vb") + col("vc"))))
        .withColumn("z", when(col("sg") > 0,
          (col("jt2").cast("double") - col("mean2"))
            / (lit(2.0) * col("sg"))))
        .select(col("nn").as("n_obs"), col("k").as("k_levels"),
          detRound(col("jt2").cast("double") / 2.0, 1).as("jt_stat"),
          detRound(col("mean2") / 2.0, 1).as("jt_mean"),
          detRound(col("z"), 6).as("z_stat"),
          (abs(col("z")) > lit(1.96)).as("significant_05"),
          // significance-gated label (the x_mann_kendall convention):
          // a raw-sign label would call pure noise a trend
          when(col("z") > lit(1.96), "increasing")
            .when(col("z") < lit(-1.96), "decreasing")
            .otherwise("none").as("trend"))
    }),

    "x_ar2_forecast" -> ((s, d) => {
      // AR(2) fit by Yule–Walker on monthly order counts per priority —
      // the autoregressive model class beside the smoothing forecasts
      // (x_holt_forecast answers "level+trend", this answers "how much
      // does the series feed back on itself"): φ₁ = r₁(1−r₂)/(1−r₁²),
      // φ₂ = (r₂−r₁²)/(1−r₁²) from the lag-1/lag-2 sample
      // autocorrelations, innovation variance σ² = c₀(1−φ₁r₁−φ₂r₂),
      // then 1- and 2-step-ahead forecasts from the two latest
      // observations. Monthly counts are exact integers, so every ACF
      // ingredient (Σy, Σy², Σyₜyₜ₋ₖ and the overlap margins) is an
      // exact integer sum and both engines run identical IEEE division
      // sequences on identical inputs — no quantization needed before
      // the final detRound. One fact groupBy; the lag windows and the
      // final pivot run over the O(priorities×months) table.
      val w = Window.partitionBy("priority").orderBy("mon")
      val lagd = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          date_trunc("month", col("o_orderdate")).as("mon"))
        .agg(count(lit(1)).cast("long").as("y"))
        .withColumn("y1", lag(col("y"), 1).over(w))
        .withColumn("y2", lag(col("y"), 2).over(w))
        .withColumn("rn", row_number().over(
          Window.partitionBy("priority").orderBy(desc("mon"))))
      lagd.groupBy("priority")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("y")).cast("long").as("sy"),
          sum(col("y") * col("y")).cast("long").as("syy"),
          sum(when(col("y1").isNotNull, col("y") * col("y1"))
            .otherwise(0L)).cast("long").as("sp1"),
          sum(when(col("y1").isNotNull, col("y")).otherwise(0L))
            .cast("long").as("sa1"),
          sum(when(col("y1").isNotNull, col("y1")).otherwise(0L))
            .cast("long").as("sb1"),
          count(when(col("y1").isNotNull, lit(1))).cast("long").as("n1"),
          sum(when(col("y2").isNotNull, col("y") * col("y2"))
            .otherwise(0L)).cast("long").as("sp2"),
          sum(when(col("y2").isNotNull, col("y")).otherwise(0L))
            .cast("long").as("sa2"),
          sum(when(col("y2").isNotNull, col("y2")).otherwise(0L))
            .cast("long").as("sb2"),
          count(when(col("y2").isNotNull, lit(1))).cast("long").as("n2"),
          max(when(col("rn") === 1, col("y"))).as("ylast"),
          max(when(col("rn") === 2, col("y"))).as("yprev"))
        .withColumn("mu", col("sy").cast("double") / col("n"))
        .withColumn("den", col("syy") - col("mu") * col("sy"))
        // den = 0 (a constant series) would be NaN in Spark vs NULL in
        // DuckDB — the x_rate_ratio zero-information discipline: NULL
        .withColumn("r1", when(col("den") > 0,
          (col("sp1") - col("mu") * (col("sa1") + col("sb1"))
            + col("n1") * col("mu") * col("mu")) / col("den")))
        .withColumn("r2", when(col("den") > 0,
          (col("sp2") - col("mu") * (col("sa2") + col("sb2"))
            + col("n2") * col("mu") * col("mu")) / col("den")))
        .withColumn("disc", lit(1.0) - col("r1") * col("r1"))
        .withColumn("phi1", when(abs(col("disc")) > 1e-12,
          col("r1") * (lit(1.0) - col("r2")) / col("disc")))
        .withColumn("phi2", when(abs(col("disc")) > 1e-12,
          (col("r2") - col("r1") * col("r1")) / col("disc")))
        .withColumn("f1", col("mu") + col("phi1") * (col("ylast") - col("mu"))
          + col("phi2") * (col("yprev") - col("mu")))
        .select(col("priority"), col("n").as("n_months"),
          detRound(col("mu"), 6).as("mean_monthly"),
          detRound(col("r1"), 6).as("acf_1"),
          detRound(col("r2"), 6).as("acf_2"),
          detRound(col("phi1"), 6).as("phi_1"),
          detRound(col("phi2"), 6).as("phi_2"),
          detRound((col("den") / col("n")) * (lit(1.0)
            - col("phi1") * col("r1") - col("phi2") * col("r2")), 4)
            .as("sigma2"),
          detRound(col("f1"), 4).as("forecast_1"),
          detRound(col("mu") + col("phi1") * (col("f1") - col("mu"))
            + col("phi2") * (col("ylast") - col("mu")), 4)
            .as("forecast_2"))
        .orderBy("priority")
    }),

    "x_jarque_bera" -> ((s, d) => {
      // Jarque–Bera normality test (Jarque & Bera 1980) on the daily
      // order-count series per priority — the ASSUMPTION CHECK the two
      // normal-theory outlier screens (x_grubbs_outlier,
      // x_generalized_esd) silently rest on, made measurable. Exact
      // integer power sums S1..S4 off the calendar-bounded day grain
      // (DECIMAL(38,0) — y⁴ outgrows BIGINT once daily volume passes
      // ~55k), then the sufficient-statistics expansion of the central
      // moments in IDENTICAL double operation order in both engines:
      // m2 = S2/n − μ², m3 = S3/n − 3μ(S2/n) + 2μ³,
      // m4 = S4/n − 4μ(S3/n) + 6μ²(S2/n) − 3μ⁴; skew = m3/(m2√m2),
      // kurt = m4/m2², JB = n/6·(S² + (K−3)²/4) vs χ²(2) = 5.991465.
      // Degenerate constant series (m2 = 0) → NULL verdict, not ±inf.
      // Scale: one fact groupBy to the day grain, O(priorities) after.
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("y"))
      val yd = col("y").cast("decimal(19,0)")
      val st = daily.groupBy("priority")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(yd).as("s1"),
          sum(yd * yd).as("s2"),
          sum((yd * yd) * yd).as("s3"),
          sum((yd * yd) * (yd * yd)).as("s4"))
      val dn = col("n").cast("double")
      val d1 = col("s1").cast("double"); val d2 = col("s2").cast("double")
      val d3 = col("s3").cast("double"); val d4 = col("s4").cast("double")
      st
        .withColumn("mean", d1 / dn)
        .withColumn("m2", d2 / dn - col("mean") * col("mean"))
        .withColumn("m3", d3 / dn
          - lit(3.0) * col("mean") * (d2 / dn)
          + lit(2.0) * col("mean") * col("mean") * col("mean"))
        .withColumn("m4", d4 / dn
          - lit(4.0) * col("mean") * (d3 / dn)
          + lit(6.0) * col("mean") * col("mean") * (d2 / dn)
          - lit(3.0) * col("mean") * col("mean") * col("mean")
            * col("mean"))
        .withColumn("skew", when(col("m2") > 0,
          col("m3") / (col("m2") * sqrt(col("m2")))))
        .withColumn("kurt", when(col("m2") > 0,
          col("m4") / (col("m2") * col("m2"))))
        .withColumn("jb", dn / 6.0 * (col("skew") * col("skew")
          + (col("kurt") - 3.0) * (col("kurt") - 3.0) / 4.0))
        .select(col("priority"), col("n").as("n_days"),
          detRound(col("mean"), 4).as("mean_daily"),
          detRound(col("skew"), 4).as("skewness"),
          detRound(col("kurt"), 4).as("kurtosis"),
          detRound(col("jb"), 4).as("jb_stat"),
          (col("jb") > lit(5.991465)).as("reject_normal_05"))
        .orderBy("priority")
    }),

    "x_dunn_posthoc" -> ((s, d) => {
      // Dunn's (1964) pairwise post-hoc after Kruskal–Wallis — the
      // unordered-groups companion to x_nemenyi_posthoc's block
      // version, answering WHICH priority pairs separate once KW says
      // "somewhere". Runs on x_kruskal_wallis's own (grp, cents)
      // histogram grain: pooled doubled average ranks via the exclusive
      // cumsum over the value histogram (exact integers), mean ranks
      // R̄ = r2g/(2n_g), z_ab = (R̄_a − R̄_b) /
      // √((N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/n_a + 1/n_b)), and the
      // Bonferroni critical Φ⁻¹(1 − 0.025/m) embedded as an Acklam
      // literal gated on the DATA-DECIDED m = k(k−1)/2 (the
      // x_benjamini_yekutieli convention; k outside 2..6 → NULL).
      // Output k(k−1)/2 pair rows off the O(k) rank-sum table — every
      // join a broadcast of an aggregate; windows only over the grouped
      // value histogram.
      val hist = priorityCentHist(s, d)
      val (_, gsum, ties) = doubledRanks(hist, "grp", "qv")
      val tot = gsum.agg(count(lit(1)).as("k"),
        sum(col("ng")).cast("long").as("nn"))
      val a = gsum.select(col("grp").as("grp_a"), col("ng").as("na"),
        col("r2g").as("r2a"))
      val b = gsum.select(col("grp").as("grp_b"), col("ng").as("nb"),
        col("r2g").as("r2b"))
      val m = (col("k") * (col("k") - 1) / 2).cast("long")
      val critCase = when(m === 1, lit(dunnCrit(1)))
        .when(m === 3, lit(dunnCrit(3)))
        .when(m === 6, lit(dunnCrit(6)))
        .when(m === 10, lit(dunnCrit(10)))
        .when(m === 15, lit(dunnCrit(15)))
      a.join(broadcast(b), col("grp_a") < col("grp_b"))
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(ties))
        .withColumn("varbase",
          col("nn").cast("double") * (col("nn") + 1) / 12.0
            - col("st3").cast("double") / (lit(12.0) * (col("nn") - 1)))
        .withColumn("ra", col("r2a").cast("double") / (lit(2.0) * col("na")))
        .withColumn("rb", col("r2b").cast("double") / (lit(2.0) * col("nb")))
        // varbase = 0 exactly when every pooled value ties (st3 folds to
        // nn³−nn); NULL the statistic in BOTH engines rather than let
        // Spark NaN/Inf diverge from DuckDB NULL (pinned div-by-zero
        // gotcha). na, nb ≥ 1 always, so varbase > 0 ⇒ sqrt operand > 0.
        .withColumn("z", when(col("varbase") > 0, (col("ra") - col("rb"))
          / sqrt(col("varbase") * (lit(1.0) / col("na")
            + lit(1.0) / col("nb")))))
        .withColumn("crit", critCase)
        .select(col("grp_a"), col("grp_b"),
          col("na").as("n_a"), col("nb").as("n_b"),
          detRound(col("ra"), 6).as("mean_rank_a"),
          detRound(col("rb"), 6).as("mean_rank_b"),
          detRound(col("varbase"), 2).as("var_base"),
          detRound(col("z"), 4).as("z_stat"),
          col("k").as("n_groups"), m.as("n_pairs"),
          detRound(col("crit"), 6).as("crit_bonf"),
          (abs(col("z")) > col("crit")).as("significant"))
        .orderBy("grp_a", "grp_b")
    }),

    "x_pettitt_test" -> ((s, d) => {
      // Pettitt's (1979) rank-based change-point test on the daily
      // order-count series — the distribution-free sibling of
      // x_cusum_changepoint (which assumes a level shift in mean units;
      // Pettitt is invariant to any monotone transform of the counts).
      // EXACT integer form via the doubled-rank machinery: with r2 the
      // doubled average ranks of the counts within a series,
      // U_t = Σ_{i≤t} r2_i − t(n+1) (integer — 2Σr̄ per value is
      // 2·below + ties + 1), K = max_{t<n} |U_t| with the EARLIEST
      // argmax day as the candidate break t*, and the approximate
      // significance p ≈ min(1, 2exp(−6K²/(n³+n²))) — one exp on an
      // O(series) grain. Runs on BOTH grains at once: each priority
      // plus the pooled 'ALL' series (the pooled series is where the
      // fixture's K concentrates). Scale: one fact groupBy to the
      // calendar-bounded day grain; every window is partitioned by
      // series over O(days) rows.
      val dailyP = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("series"),
          date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("y"))
        .localCheckpoint()
      val daily = dailyP.unionByName(
        dailyP.groupBy("day").agg(sum(col("y")).cast("long").as("y"))
          .withColumn("series", lit("ALL"))
          .select("series", "day", "y"))
      val vts = exclusiveCum(daily.groupBy("series", "y")
        .agg(count(lit(1)).cast("long").as("t")), "y", "t", "s0", "series")
      val nn = daily.groupBy("series")
        .agg(count(lit(1)).cast("long").as("n"))
      val wD = Window.partitionBy("series").orderBy("day")
      val cum = daily.join(vts, Seq("series", "y"))
        .withColumn("r2", doubledRank)
        .withColumn("su2", sum(col("r2")).over(
          wD.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("rn", row_number().over(wD).cast("long"))
      val picked = cum.join(broadcast(nn), "series")
        .filter(col("rn") < col("n"))
        .withColumn("au", abs(col("su2") - col("rn") * (col("n") + 1L)))
        .withColumn("pk", row_number().over(Window.partitionBy("series")
          .orderBy(desc("au"), asc("day"))))
        .filter(col("pk") === 1)
      picked
        .withColumn("p", when(col("n") > 1, least(lit(1.0),
          lit(2.0) * exp(lit(-6.0) * col("au").cast("double") * col("au")
            / (col("n") * col("n") * col("n") + col("n") * col("n"))
              .cast("double")))))
        .select(col("series"), col("n").as("n_days"),
          col("au").as("k_stat"),
          fmtD(col("day")).as("change_day"),
          detRound(col("p"), 4).as("p_value"),
          (col("p") < 0.05).as("significant_05"))
        .orderBy("series")
    }),

    "x_damped_trend_forecast" -> ((s, d) => {
      // Gardner–McKenzie φ-damped trend forecast (J. Forecasting 1985;
      // the method M4 showed hardest to beat) beside x_holt_forecast:
      // Brown's trend correction extrapolates a ramp FOREVER, the
      // damped variant shrinks the trend by φ per step — the
      // long-horizon-sane default. The whole recursion collapses to
      // ONE driver-computed 40-literal weight ladder (w_i =
      // [1,φ]·G^(i−1)·h — see dampedWArr; damped-oscillatory, some
      // weights mildly negative), applied exactly like the EWMA
      // ladder: per-term 1e9 fixed-point quantization, present-lag
      // quantized-weight normalizer, windows over the already-
      // aggregated daily table only. Forecast = normalized weighted
      // sum; top-10 |residual| days are where the damped-trend model
      // was most surprised. Same scale posture as x_ewma_anomaly.
      val w = Window.partitionBy("priority").orderBy("day")
      val daily = priorityDaily(s, d)
      def lagY(i: Int) = lag(col("y"), i).over(w)
      daily
        .withColumn("nq", ladderNum(lagY, dampedW))
        .withColumn("dq", ladderDen(lagY, dampedQW))
        .filter(col("dq") > 0)
        .withColumn("f",
          col("nq").cast("double") / col("dq").cast("double"))
        .withColumn("resid", col("y") - col("f"))
        .withColumn("qr", floor(abs(col("resid")) * 1e6 + 0.5).cast("long"))
        .orderBy(desc("qr"), asc("priority"), asc("day"))
        .limit(10)
        .select(col("priority"), fmtD(col("day")).as("day"), col("y"),
          detRound(lit(DampPhi), 2).as("phi"),
          detRound(col("f"), 6).as("forecast"),
          detRound(col("resid"), 6).as("resid"))
    }),

    "x_snht_changepoint" -> ((s, d) => {
      // Alexandersson's SNHT (J. Climatology 1986) on the pooled daily
      // order-count series — the PARAMETRIC member of the change-point
      // trio (x_pettitt_test is the rank test, x_buishand_range the
      // cumulative-deviation range): T_t = t·z̄₁² + (n−t)·z̄₂² over the
      // standardized series, maximized over t < n with the earliest
      // argmax day as the candidate break. SNHT weights EDGE breaks
      // more than Pettitt (which is most sensitive mid-series) — the
      // two candidate days genuinely differ on the fixture. No reject
      // flag BY DESIGN: SNHT's critical values are n-dependent
      // Monte-Carlo tables (Khaliq & Ouarda 2007), not a closed form —
      // the p-carrying members of the family are Pettitt (rank
      // approximation) and Buishand (Brownian-bridge asymptotic), so
      // this op reports the statistic and the candidate day and leaves
      // the table lookup to the reader. All cumulative sums run on
      // exact integer cumY (never a float cumsum — window-aggregate
      // addition order is not portable across engines); z̄₁ IS the
      // shared spine's S_t/σ/t. One fact groupBy to the day grain
      // (the dailyCum spine), O(days) windows after.
      val cum = dailyCum(s, d)
        .filter(col("rn") < col("n"))
        .withColumn("z1", col("sk") / col("sd") / col("rn"))
        .withColumn("z2",
          ((col("sy") - col("cumy")).cast("double")
            - (col("n") - col("rn")) * col("mean"))
            / col("sd") / (col("n") - col("rn")))
        .withColumn("tt", col("rn") * col("z1") * col("z1")
          + (col("n") - col("rn")) * col("z2") * col("z2"))
        .withColumn("qt", floor(col("tt") * 1e6 + 0.5).cast("long"))
        .withColumn("pk", row_number().over(
          Window.orderBy(desc("qt"), asc("day"))))
        .filter(col("pk") === 1)
      cum.select(col("n").as("n_days"),
        detRound(col("mean"), 4).as("mean_daily"),
        detRound(col("tt"), 4).as("t_stat"),
        fmtD(col("day")).as("change_day"))
    }),

    "x_buishand_range" -> ((s, d) => {
      // Buishand's range test (J. Hydrology 1982) on the pooled daily
      // order-count series — the cumulative-deviation member of the
      // change-point trio: S_k = Σ_{i≤k}(y_i − ȳ), R = (max S −
      // min S)/σ̂, statistic R/√n. Unlike SNHT this one HAS a usable
      // asymptotic: R/√n converges to the range of a Brownian bridge,
      // whose survival function is the classical series
      // P(range > x) = 2Σ_{k≥1}(4k²x² − 1)e^(−2k²x²) — evaluated
      // in-engine as a 10-term ladder (k = 10 adds < 1e−300 at any
      // x ≥ 0.3; for x below that p saturates at 1), each term
      // 1e12-quantized before the sum so both engines fold identical
      // integers. Candidate day = earliest argmax |S_k|, k < n —
      // Pettitt and Buishand converge on the same 1998-12-01 day on
      // the fixture, the convergent-evidence story. Integer cumsums
      // only (same portability rule as SNHT); the day grain, S_k and
      // the argmax pick are the shared dailyCum/skArgmaxPick spine —
      // Chow reads the SAME pick, so "the family's own candidate day"
      // is one copy by construction.
      val cum = dailyCum(s, d)
      val ext = cum.agg(max(col("sk")).as("smax"),
        min(col("sk")).as("smin"))
      val pick = skArgmaxPick(cum)
        .select(col("day"), col("n"), col("mean"), col("sd"))
      val x = ((col("smax") - col("smin")) / col("sd")) /
        sqrt(col("n").cast("double"))
      val pTerm = (1 to 10).map { k =>
        floor((lit(4.0) * (k * k) * col("x") * col("x") - 1.0)
          * exp(lit(-2.0) * (k * k) * col("x") * col("x"))
          * 1e12 + 0.5).cast("long")
      }.reduce(_ + _)
      pick.crossJoin(broadcast(ext))
        .withColumn("x", x)
        // below x = 0.3 the 10-term tail is not yet converged and the
        // true p has saturated at 1 anyway — gate, don't truncate
        .withColumn("p", when(col("x") < 0.3, lit(1.0))
          .otherwise(least(lit(1.0),
            lit(2.0) * (pTerm.cast("double") / 1e12))))
        .select(col("n").as("n_days"),
          detRound(col("mean"), 4).as("mean_daily"),
          detRound(col("x"), 4).as("r_over_sqrt_n"),
          fmtD(col("day")).as("change_day"),
          detRound(col("p"), 4).as("p_value"),
          (col("p") < 0.05).as("significant_05"))
    }),

    "x_kpss_test" -> ((s, d) => {
      // KPSS level-stationarity test (Kwiatkowski, Phillips, Schmidt &
      // Shin, J. Econometrics 1992) on the pooled daily order-count
      // series — the trio's complement: the change-point ops hunt for
      // ONE break, KPSS asks whether the level is stable AT ALL (its
      // null is stationarity — the burden of proof is reversed vs unit-
      // root tests). η = Σ_t S_t²/(n²·σ̂²_lr) with S_t the partial sums
      // of the demeaned series and σ̂²_lr the Bartlett-kernel long-run
      // variance γ₀ + 2Σ_{j≤q}(1 − j/(q+1))γ_j at the standard
      // bandwidth q = ⌊4(n/100)^¼⌋ — data-decided, so the lag ladder
      // is generated to 12 and gated per-lag on j ≤ q (q = 8 at the
      // fixture's 2399 days; q reaches 12 only past n ≈ 8100 days — 22
      // calendar years, beyond any fixture; the gate NULLs η rather
      // than silently truncating the kernel if that ever happens).
      // (n/100)^¼ is spelled sqrt(sqrt(·)) — pow is not cross-engine-
      // portable at identical ulps, nested sqrt is. Every sum of float
      // terms is 1e6-quantized per term before a DECIMAL fold; S_t
      // derives from the exact integer cumY (no float window sums).
      // Verdict vs the published 5% asymptotic critical value 0.463.
      val QMax = 12
      val daily = pooledDaily(s, d)
      val st = daily.agg(count(lit(1)).cast("long").as("n"),
        sum(col("y")).cast("long").as("sy"))
        .withColumn("mean", col("sy").cast("double") / col("n"))
        .withColumn("q",
          floor(lit(4.0) * sqrt(sqrt(col("n").cast("double") / 100.0)))
            .cast("long"))
      val wD = Window.orderBy("day")
      val base = daily
        .withColumn("cumy", sum(col("y")).over(
          wD.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("rn", row_number().over(wD).cast("long"))
        .crossJoin(broadcast(st))
        .withColumn("e", col("y").cast("double") - col("mean"))
        .withColumn("sk",
          col("cumy").cast("double") - col("rn") * col("mean"))
      def lagE(i: Int) = lag(col("e"), i).over(wD)
      // lag products as a PROJECTION stage (a window function cannot
      // sit inside an aggregate), then one grouped fold
      val lad = base.select(
        Seq(col("n"), col("q"), col("e"), col("sk")) ++
          (1 to QMax).map { j =>
            when(lit(j) <= col("q") && lagE(j).isNotNull,
              floor(col("e") * lagE(j) * 1e6 + 0.5)
                .cast("decimal(38,0)"))
              .otherwise(lit(0).cast("decimal(38,0)")).as(s"t$j")
          }: _*)
      val agg = lad.groupBy(col("n"), col("q"))
        .agg(sum(floor(col("e") * col("e") * 1e6 + 0.5)
            .cast("decimal(38,0)")).as("g0"),
          (Seq(sum(floor(col("sk") * col("sk") * 1e6 + 0.5)
            .cast("decimal(38,0)")).as("ss2")) ++
            (1 to QMax).map(j => sum(col(s"t$j")).as(s"g$j"))): _*)
      val lrTerms = (1 to QMax).map { j =>
        when(lit(j) <= col("q"),
          lit(2.0) * (lit(1.0) - lit(j.toDouble) / (col("q") + 1))
            * (col(s"g$j").cast("double") / 1e6 / col("n")))
          .otherwise(lit(0.0))
      }.reduce(_ + _)
      agg
        // q > QMax would silently truncate the Bartlett kernel at lag
        // QMax (unreachable below n ≈ 8100 days, but no export may be
        // silently capped): gate s2lr on the same q ≤ QMax arm as eta so
        // BOTH exported statistics go NULL together when the ladder is
        // short.
        .withColumn("s2lr", when(col("q") <= QMax,
          col("g0").cast("double") / 1e6 / col("n") + lrTerms))
        .withColumn("eta", when(col("q") <= QMax && col("s2lr") > 0,
          (col("ss2").cast("double") / 1e6)
            / (col("n").cast("double") * col("n") * col("s2lr"))))
        .select(col("n").as("n_days"), col("q").as("q_lags"),
          detRound(col("s2lr"), 4).as("s2_longrun"),
          detRound(col("eta"), 6).as("eta_stat"),
          (col("eta") <= lit(0.463)).as("level_stationary_05"))
    }),

    "x_fligner_killeen" -> ((s, d) => {
      // Fligner–Killeen test (JASA 1976; the Conover–Johnson–Johnson
      // 1981 normal-scores form R's fligner.test implements) for
      // variance homogeneity across priorities — the RANK member
      // beside x_levene_variance (mean-based) and x_brown_forsythe
      // (median-based): most robust to heavy tails of the three, the
      // recommended default when normality is already rejected (which
      // x_jarque_bera shows it is, for this very series' day grain).
      // Pooled ranks of |x − median(group)| via the doubled-rank
      // cumsum on the absolute-deviation histogram, normal scores
      // a = Φ⁻¹(½ + r̄/(2(N+1))) through the in-engine Acklam builder,
      // each score 1e9-quantized before its DECIMAL group sums, and
      // FK = Σ n_j(Ā_j − ā)²/V² vs χ²(k−1). Everything after the
      // first groupBy runs on the O(groups × distinct deviations)
      // histogram. The fixture verdict is the interesting kind: FK
      // lands just BELOW the critical value — the three variance
      // tests agree the priority variances are homogeneous.
      val hist = priorityCentHist(s, d)
      val counts = hist.groupBy("grp")
        .agg(sum(col("c")).cast("long").as("ng"))
      val med = lowerMedianBy(hist, "grp", "qv", "c", counts, "ng", "med")
      val dev = hist.join(broadcast(med), "grp")
        .select(col("grp"), abs(col("qv") - col("med")).as("dv"), col("c"))
        .groupBy("grp", "dv").agg(sum(col("c")).cast("long").as("c"))
      val (vts, _, _) = doubledRanks(dev, "grp", "dv")
      val nn = dev.agg(sum(col("c")).cast("long").as("nn"))
      val scored = vts
        .withColumn("r2", doubledRank)
        .crossJoin(broadcast(nn))
        .withColumn("p", lit(0.5)
          + col("r2").cast("double") / (lit(4.0) * (col("nn") + 1)))
        .withColumn("qa",
          floor(invNormCol(col("p")) * 1e9 + 0.5).cast("long"))
      val gsum = dev.join(scored.select(col("dv"), col("qa")), "dv")
        .groupBy("grp")
        .agg(sum(col("c")).cast("long").as("ng"),
          sum(col("c").cast("decimal(20,0)")
            * col("qa").cast("decimal(19,0)")).as("sa"),
          sum(col("c").cast("decimal(20,0)")
            * col("qa").cast("decimal(19,0)")
            * col("qa").cast("decimal(19,0)")).as("saa"))
      val tot = gsum.agg(count(lit(1)).as("k"),
        sum(col("ng")).cast("long").as("nt"),
        sum(col("sa")).as("sat"), sum(col("saa")).as("saat"))
        .withColumn("abar",
          col("sat").cast("double") / 1e9 / col("nt"))
        // nt = 1 zeroes the (nt−1) divisor; vv = 0 when every normal
        // score ties (all deviations equal → one rank). NULL both so the
        // statistic below NULLs identically in both engines.
        .withColumn("vv", when(col("nt") > 1,
          (col("saat").cast("double") / 1e18
            - col("nt") * col("abar") * col("abar")) / (col("nt") - 1)))
      val terms = gsum.crossJoin(broadcast(tot))
        .withColumn("aj", col("sa").cast("double") / 1e9 / col("ng"))
        .select(col("k"), col("nt"), col("vv"),
          floor(col("ng") * (col("aj") - col("abar"))
            * (col("aj") - col("abar")) * 1e6 + 0.5)
            .cast("decimal(38,0)").as("qterm"))
        .groupBy("k", "nt", "vv")
        .agg(sum(col("qterm")).as("qsum"))
      terms
        .withColumn("fk", when(col("vv") > 0,
          (col("qsum").cast("double") / 1e6) / col("vv")))
        .select(col("k").as("n_groups"), col("nt").as("n_obs"),
          detRound(col("fk"), 4).as("fk_stat"),
          // chi-square df = k−1 = 4 at the fixture's 5 priorities
          (col("fk") > lit(9.488)).as("reject_05"))
    }),

    "x_cramers_v" -> ((s, d) => {
      // Cramér's V (1946) with Bergsma's (2013) bias correction on the
      // priority × order-status contingency table — the EFFECT SIZE
      // x_chi2_independence stops short of: χ² says "dependent or
      // not?", V says "how strongly, on a 0..1 scale comparable across
      // table shapes". The dense r×k grid is built by cross-joining
      // the two broadcast margin tables and left-joining observed
      // counts (zero cells still contribute their expectation), each
      // (o−e)²/e term 1e6-quantized before the order-free DECIMAL
      // sum. The bias-corrected V˜ = √(max(0, φ² − (r−1)(k−1)/(n−1)) /
      // min(r˜−1, k˜−1)) — on the fixture it snaps to EXACTLY 0 while
      // raw V reads 0.011: the textbook case for why the correction
      // exists (raw V is biased upward on near-independent tables).
      // Verdict vs χ²(8) = 15.507 at the fixture's 5×3 grid (df gated
      // on the data-decided shape, the kruskal convention).
      val tab = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("r"),
          col("o_orderstatus").as("cc"))
        .agg(count(lit(1)).cast("long").as("o"))
        .localCheckpoint()
      val rm = tab.groupBy("r").agg(sum(col("o")).cast("long").as("nr"))
      val cm = tab.groupBy("cc").agg(sum(col("o")).cast("long").as("nc"))
      val nTot = tab.agg(sum(col("o")).cast("long").as("n"))
      val grid = rm.crossJoin(broadcast(cm)).crossJoin(broadcast(nTot))
        .join(tab, Seq("r", "cc"), "left")
        .withColumn("ob", coalesce(col("o"), lit(0L)))
        .withColumn("e",
          col("nr").cast("double") * col("nc") / col("n"))
        .select(col("n"),
          floor((col("ob") - col("e")) * (col("ob") - col("e"))
            / col("e") * 1e6 + 0.5).cast("decimal(38,0)").as("qterm"))
        .groupBy("n").agg(sum(col("qterm")).as("qchi"))
      val shape = rm.agg(count(lit(1)).cast("long").as("rr"))
        .crossJoin(cm.agg(count(lit(1)).cast("long").as("kk")))
      grid.crossJoin(broadcast(shape))
        .withColumn("chi2", col("qchi").cast("double") / 1e6)
        .withColumn("df", (col("rr") - 1) * (col("kk") - 1))
        // Degenerate shapes NULL out in BOTH engines: a single-level
        // margin (min(r,k) = 1) zeroes v's denominator, n = 1 zeroes the
        // (n−1) bias divisors, and a small n can push min(r˜,k˜)−1 ≤ 0 —
        // where an unguarded sqrt(negative) THROWS in DuckDB and would
        // kill the shared oracle connection (pinned sqrt(<0) gotcha).
        .withColumn("v", when(least(col("rr"), col("kk")) > 1,
          sqrt(col("chi2")
            / (col("n") * (least(col("rr"), col("kk")) - 1)))))
        .withColumn("phi2c", when(col("n") > 1, greatest(lit(0.0),
          col("chi2") / col("n")
            - (col("rr") - 1).cast("double") * (col("kk") - 1)
              / (col("n") - 1))))
        .withColumn("rc", when(col("n") > 1, col("rr").cast("double")
          - (col("rr") - 1).cast("double") * (col("rr") - 1)
            / (col("n") - 1)))
        .withColumn("kc", when(col("n") > 1, col("kk").cast("double")
          - (col("kk") - 1).cast("double") * (col("kk") - 1)
            / (col("n") - 1)))
        .withColumn("vc", when(least(col("rc") - 1, col("kc") - 1) > 0,
          sqrt(col("phi2c")
            / least(col("rc") - 1, col("kc") - 1))))
        .select(col("n").as("n_obs"), col("rr").as("n_rows"),
          col("kk").as("n_cols"), col("df"),
          detRound(col("chi2"), 4).as("chi2"),
          detRound(col("v"), 6).as("cramers_v"),
          detRound(col("vc"), 6).as("cramers_v_corrected"),
          // χ²(8) = 15.507 at the fixture's 5×3 grid
          when(col("df") === 8, col("chi2") > lit(15.507))
            .as("dependent_05"))
    }),

    "x_theta_forecast" -> ((s, d) => {
      // Theta method, θ = 2 (Assimakopoulos & Nikolopoulos, IJF 2000 —
      // the M3 competition winner; Hyndman & Billah 2003 showed it is
      // SES-with-drift): decompose the monthly revenue series into the
      // OLS linear trend (the θ = 0 line, long-run direction) and the
      // double-curvature θ = 2 line Q_t = 2y_t − L_t (short-run
      // dynamics), SES the θ = 2 line, and average the two one-step
      // extrapolations. Beside x_holt_forecast (trend via smoothing)
      // and x_damped_trend_forecast (shrunk trend), theta anchors the
      // trend by REGRESSION over the whole series. OLS from exact
      // integer sums (rank index × 1e6-quantized millions), SES as the
      // lag-0..39 normalized EWMA ladder evaluated at the LAST month,
      // forecast = ½(SES(Q)_{n+1} + L_{n+1}). O(months) grain, one
      // fact groupBy. Honesty note: the fixture's final month is a
      // 2-day stub (the TPC-H date range ends mid-month), and the SES
      // component weights that stub heavily — the family convention
      // (theil_u/mase score the same series unadjusted), kept so the
      // forecasters stay comparable; ses_theta2 sitting far below
      // trend_next on the fixture is that stub, not a defect.
      val wM = Window.orderBy("mth")
      val monthly = monthlyRevMil(s, d)
        .withColumn("rn", row_number().over(wM).cast("long"))
        .withColumn("qy", floor(col("r") * 1e6 + 0.5).cast("long"))
        .localCheckpoint()
      val ols = monthly.agg(count(lit(1)).cast("long").as("n"),
        sum(col("rn")).cast("long").as("sx"),
        sum(col("qy").cast("decimal(38,0)")).as("sy"),
        sum((col("rn") * col("qy")).cast("decimal(38,0)")).as("sxy"),
        sum(col("rn") * col("rn")).cast("long").as("sxx"))
        .withColumn("b",
          (col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / (col("n").cast("double") * col("sxx")
              - col("sx").cast("double") * col("sx")) / 1e6)
        .withColumn("a",
          (col("sy").cast("double") / 1e6
            - col("b") * col("sx")) / col("n"))
      // θ = 2 line per month, then the SES ladder (lags 0..39, decay
      // EwmaAlpha, per-term 1e9 quantization) evaluated at the last row
      val theta = monthly.crossJoin(broadcast(ols))
        .withColumn("lt", col("a") + col("b") * col("rn"))
        .withColumn("qq", lit(2.0) * col("r") - col("lt"))
      // ladder term i reads lag i − 1, so the ladder covers lags 0..39
      def lagQ(i: Int) =
        if (i == 1) col("qq") else lag(col("qq"), i - 1).over(wM)
      theta
        .withColumn("nq", ladderNum(lagQ, i => ewmaW(i - 1)))
        .withColumn("dq", ladderDen(lagQ, i => ewmaQW(i - 1)))
        .filter(col("rn") === col("n") && col("dq") > 0)
        .withColumn("ses",
          col("nq").cast("double") / col("dq").cast("double"))
        .withColumn("trendNext", col("a") + col("b") * (col("n") + 1))
        .withColumn("fc", lit(0.5) * (col("ses") + col("trendNext")))
        .select(col("n").as("n_months"),
          detRound(col("a"), 4).as("trend_intercept"),
          detRound(col("b"), 6).as("trend_slope"),
          detRound(col("r"), 4).as("last_actual_mil"),
          detRound(col("ses"), 4).as("ses_theta2"),
          detRound(col("trendNext"), 4).as("trend_next"),
          detRound(col("fc"), 4).as("theta_forecast"))
    }),

    "x_durbin_watson" -> ((s, d) => {
      // Durbin–Watson serial-correlation test (Biometrika 1950) on the
      // OLS-trend residuals of the pooled daily order-count series —
      // the REGRESSION-residual member beside x_ljung_box (raw-series
      // ACF) and x_runs_test (sign runs): after the trend is removed,
      // do consecutive days still co-move? DW = Σ(e_t − e_{t−1})²/Σe_t²
      // ∈ [0, 4], 2 = no first-order autocorrelation. The trend comes
      // from exact integer sums; residuals are per-row doubles off
      // broadcast (a, b); both quadratic sums are 1e6-quantized per
      // term before DECIMAL folds (a raw double SUM is partial-
      // aggregation-order dependent). The exact dL/dU bounds are
      // n-and-k Savin–White tables, so the flag is the conventional
      // |DW − 2| > 0.5 screening band, labeled as such. O(days).
      val wD = Window.orderBy("day")
      val (rn0, ols) = dailyTrend(s, d)
      val res = rn0.crossJoin(broadcast(ols))
        .withColumn("e",
          col("y").cast("double") - col("a") - col("b") * col("rn"))
        .withColumn("el", lag(col("e"), 1).over(wD))
      res.groupBy(col("n"), col("b"))
        .agg(
          sum(when(col("el").isNotNull,
            floor((col("e") - col("el")) * (col("e") - col("el"))
              * 1e6 + 0.5).cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("qnum"),
          sum(floor(col("e") * col("e") * 1e6 + 0.5)
            .cast("decimal(38,0)")).as("qden"))
        // qden = 0 when every quantized e² term rounds to 0 (an exact
        // trend fit on a tiny series); NULL the ratio in both engines,
        // the same guard shape as sibling x_breusch_pagan's vq.
        .withColumn("dw", when(col("qden") > 0,
          col("qnum").cast("double") / col("qden").cast("double")))
        .select(col("n").as("n_days"),
          detRound(col("b"), 6).as("trend_slope"),
          detRound(col("dw"), 4).as("dw_stat"),
          (abs(col("dw") - 2.0) > 0.5).as("autocorr_suspect"))
    }),

    "x_breusch_pagan" -> ((s, d) => {
      // Breusch–Pagan heteroskedasticity test (Econometrica 1979;
      // Koenker's studentized LM form, the R lmtest default) on the
      // daily-trend residuals: does the VARIANCE drift with time even
      // when the level is detrended? — the dispersion complement to
      // x_kpss_test's level question and the time-indexed sibling of
      // the x_fligner_killeen group test. LM = n·R² of e² on t, with
      // R² computed from exact sufficient sums of the 1e6-quantized
      // e² series — one pass after the trend fit, O(days) everywhere,
      // verdict vs χ²(1) = 3.841.
      val (rn0, ols) = dailyTrend(s, d)
      val q2 = rn0.crossJoin(broadcast(ols))
        .withColumn("e",
          col("y").cast("double") - col("a") - col("b") * col("rn"))
        .withColumn("q", floor(col("e") * col("e") * 1e6 + 0.5)
          .cast("long"))
      val agg = q2.groupBy(col("n"), col("sx"), col("sxx"))
        .agg(sum(col("q").cast("decimal(38,0)")).as("sq"),
          sum((col("rn").cast("decimal(19,0)")
            * col("q").cast("decimal(19,0)"))).as("sxq"),
          sum((col("q").cast("decimal(19,0)")
            * col("q").cast("decimal(19,0)"))).as("sqq"))
      agg
        .withColumn("covn",
          col("n").cast("double") * col("sxq").cast("double")
            - col("sx").cast("double") * col("sq").cast("double"))
        .withColumn("vx",
          col("n").cast("double") * col("sxx")
            - col("sx").cast("double") * col("sx"))
        .withColumn("vq",
          col("n").cast("double") * col("sqq").cast("double")
            - col("sq").cast("double") * col("sq").cast("double"))
        .withColumn("lm", when(col("vq") > 0,
          col("n") * (col("covn") * col("covn")
            / (col("vx") * col("vq")))))
        .select(col("n").as("n_days"),
          detRound(col("lm"), 4).as("lm_stat"),
          (col("lm") > lit(3.841)).as("heteroskedastic_05"))
    }),

    "x_chow_test" -> ((s, d) => {
      // Chow structural-break test (Econometrica 1960) on the daily
      // series, AT THE FAMILY'S OWN CANDIDATE DAY: the cut is the
      // Buishand cumulative-deviation argmax (the same 1998-12-01 both
      // Pettitt and Buishand surface), so the op completes the
      // change-point story — "even at the most break-suspicious day
      // the two-segment trend fit is not significantly better".
      // F = ((SSR_p − SSR₁ − SSR₂)/k)/((SSR₁+SSR₂)/(n−2k)), k = 2,
      // every SSR from the sufficient-statistics closed form
      // SSR = Syy_c − (Sxy_c)²/Sxx_c over exact integer segment sums
      // (one conditional-aggregation pass decides both segments —
      // no second scan, no per-row float accumulation). Verdict vs
      // the asymptotic F(2, ∞) = χ²(2)/2 = 2.9957. O(days).
      val rn0 = dailyCum(s, d)
      val pick = skArgmaxPick(rn0)
        .select(col("rn").as("cutrn"), col("day").as("cutday"))
      def segSums(cond: Column, tag: String) = Seq(
        sum(when(cond, 1L).otherwise(0L)).cast("long").as(s"m$tag"),
        sum(when(cond, col("rn")).otherwise(0L)).cast("long")
          .as(s"sx$tag"),
        sum(when(cond, col("y")).otherwise(0L)).cast("long")
          .as(s"sy$tag"),
        sum(when(cond, (col("rn") * col("y")).cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as(s"sxy$tag"),
        sum(when(cond, col("rn") * col("rn")).otherwise(0L))
          .cast("long").as(s"sxx$tag"),
        sum(when(cond, (col("y") * col("y")).cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as(s"syy$tag"))
      val sums = rn0.crossJoin(broadcast(pick))
        .groupBy(col("n"), col("cutday"))
        .agg(segSums(lit(true), "p").head,
          (segSums(lit(true), "p").tail ++
            segSums(col("rn") <= col("cutrn"), "1") ++
            segSums(col("rn") > col("cutrn"), "2")): _*)
      def ssr(tag: String): Column = {
        val m = col(s"m$tag").cast("double")
        val sx = col(s"sx$tag").cast("double")
        val sy = col(s"sy$tag").cast("double")
        val sxy = col(s"sxy$tag").cast("double")
        val sxx = col(s"sxx$tag").cast("double")
        val syy = col(s"syy$tag").cast("double")
        val sxxc = sxx - sx * sx / m
        val sxyc = sxy - sx * sy / m
        val syyc = syy - sy * sy / m
        // A 1-row segment (argmax at rn = 1 or n−1) makes sxxc exactly 0;
        // NULL the segment SSR in both engines — ssr_split then NULLs
        // consistently instead of exporting a Spark-NaN/DuckDB-NULL
        // divergence (f_stat's m1/m2 > 2 gate already implies sxxc > 0).
        when(sxxc > 0, syyc - sxyc * sxyc / sxxc)
      }
      sums
        .withColumn("ssrp", ssr("p"))
        .withColumn("ssr1", ssr("1"))
        .withColumn("ssr2", ssr("2"))
        .withColumn("f", when(col("m1") > 2 && col("m2") > 2
            && col("ssr1") + col("ssr2") > 0,
          ((col("ssrp") - col("ssr1") - col("ssr2")) / 2.0)
            / ((col("ssr1") + col("ssr2")) / (col("n") - 4))))
        .select(col("n").as("n_days"),
          fmtD(col("cutday")).as("cut_day"),
          col("m1").as("n_seg1"), col("m2").as("n_seg2"),
          detRound(col("ssrp"), 2).as("ssr_pooled"),
          detRound(col("ssr1") + col("ssr2"), 2).as("ssr_split"),
          detRound(col("f"), 4).as("f_stat"),
          // asymptotic F(2, ∞) = χ²(2)/2
          (col("f") > lit(2.9957)).as("break_05"))
    }),

    "x_friedman_aligned" -> ((s, d) => {
      // Friedman aligned-ranks test (Hodges & Lehmann, Ann. Math.
      // Stat. 1962) on the shared complete-block spine — the variant
      // with more power at SMALL k than plain Friedman: within-block
      // ranking discards cross-block information, so HL align first
      // (subtract the block mean), POOL the aligned values, and rank
      // globally. T = (k−1)[ΣR_j² − kb²(kb+1)²/4] /
      // [kb(kb+1)(2kb+1)/6 − (1/k)ΣR_i·²] vs χ²(k−1), R_j treatment
      // rank sums, R_i· block rank sums of the pooled average ranks.
      // Aligned values quantize at 1e4 fixed point BEFORE the global
      // rank (a raw-double grouping key is a cross-engine hazard);
      // ranks come from the doubled-rank cumsum over the aligned-value
      // histogram, so every sum is exact until the final divisions.
      // O(blocks × k) everywhere.
      val full = completeBlocks(revBlockCells(s, d))
      val aligned = full
        .withColumn("bmean",
          sum(col("rev")).over(Window.partitionBy("blk"))
            .cast("double") / col("k"))
        .withColumn("av",
          floor((col("rev").cast("double") - col("bmean")) * 1e4 + 0.5)
            .cast("long"))
        .localCheckpoint()
      val vts = exclusiveCum(aligned.groupBy("av")
          .agg(count(lit(1)).cast("long").as("t")), "av", "t", "s0")
        .withColumn("r2", doubledRank)
      val withR = aligned.join(vts.select("av", "r2"), "av")
      val tsum = withR.groupBy("trt")
        .agg(sum(col("r2").cast("decimal(38,0)")).as("r2j"))
      val bsum = withR.groupBy("blk")
        .agg(sum(col("r2").cast("decimal(38,0)")).as("r2i"))
      val shape = aligned.agg(max(col("k")).cast("long").as("k"),
        countDistinct(col("blk")).cast("long").as("nb"))
      val tAgg = tsum.agg(
        sum((col("r2j") * col("r2j")).cast("decimal(38,0)")).as("sj2"))
      val bAgg = bsum.agg(
        sum((col("r2i") * col("r2i")).cast("decimal(38,0)")).as("si2"))
      shape.crossJoin(broadcast(tAgg)).crossJoin(broadcast(bAgg))
        .withColumn("kb", col("k") * col("nb"))
        .withColumn("num", (col("k") - 1).cast("double")
          * (col("sj2").cast("double") / 4.0
            - col("k").cast("double") * col("nb") * col("nb")
              * (col("kb") + 1) * (col("kb") + 1) / 4.0))
        .withColumn("den",
          col("kb").cast("double") * (col("kb") + 1)
            * (lit(2L) * col("kb") + 1) / 6.0
            - (col("si2").cast("double") / 4.0)
              / col("k"))
        // den collapses to 0 when every aligned value ties globally
        // (constant revenue per cell); NULL in both engines per the
        // pinned every-denominator-guarded discipline.
        .withColumn("tstat", when(col("den") > 0, col("num") / col("den")))
        .select(col("nb").as("n_blocks"), col("k").as("k_treatments"),
          detRound(col("tstat"), 4).as("t_stat"),
          // chi-square df = k−1 = 4 at the fixture's 5 priorities
          (col("tstat") > lit(9.488)).as("reject_05"))
    }),

    "x_granger_causality" -> ((s, d) => {
      // Granger lag-1 causality (Econometrica 1969) BOTH WAYS between
      // the pooled daily order-count and daily revenue series — the
      // lead-lag question none of the single-series ops ask: does
      // yesterday's revenue help predict today's count beyond count's
      // own lag, and vice versa? Row-lag over the day sequence (the
      // fixture's 6 calendar gaps lag across — the DW/Ljung-Box family
      // convention, documented there). Restricted (own lag) vs
      // unrestricted (own + other's lag) OLS, both closed-form: the
      // 2-var fit from its textbook sums, the 3-var fit via the shared
      // cramer3 solver on sufficient sums (count products exact
      // integers, revenue products 1e9-quantized per term before
      // DECIMAL folds). SSRs are a second conditional pass over the
      // checkpointed O(days) grain with the coefficient row broadcast;
      // F = (SSR_r − SSR_u)/(SSR_u/(n−3)) vs the asymptotic
      // F(1, ∞) = χ²(1)/1 = 3.841. Fixture verdict: honest nulls BOTH
      // directions (F = 0.3306 / 0.0761, the committed prototype
      // pins) — the two series share days but not dynamics.
      val wD = Window.orderBy("day")
      val lagged = dailyCntRevMil(s, d)
        .withColumn("cl", lag(col("cnt"), 1).over(wD))
        .withColumn("rl", lag(col("revm"), 1).over(wD))
        .filter(col("cl").isNotNull)
      def q9(c: Column) = floor(c * 1e9 + 0.5).cast("decimal(38,0)")
      val sums = lagged.agg(
        count(lit(1)).cast("long").as("m"),
        sum(col("cl")).cast("long").as("scl"),
        sum(q9(col("rl"))).as("srlq"),
        sum(col("cl") * col("cl")).cast("long").as("sclcl"),
        sum(q9(col("rl") * col("rl"))).as("srlrlq"),
        sum(q9(col("cl") * col("rl"))).as("sclrlq"),
        sum(col("cnt")).cast("long").as("sc"),
        sum(q9(col("revm"))).as("srq"),
        sum(col("cnt") * col("cl")).cast("long").as("sccl"),
        sum(q9(col("cnt") * col("rl"))).as("scrlq"),
        sum(q9(col("revm") * col("cl"))).as("srclq"),
        sum(q9(col("revm") * col("rl"))).as("srrlq"))
      val md = col("m").cast("double")
      def dq(n: String) = col(n).cast("double") / 1e9
      def ld(n: String) = col(n).cast("double")
      // direction count→revenue: y = revm, x1 = own lag rl, x2 = cl
      val (_, aR, bR, cR) = cramer3(md, dq("srlq"), ld("scl"),
        dq("srlrlq"), dq("sclrlq"), ld("sclcl"),
        dq("srq"), dq("srrlq"), dq("srclq"))
      // direction revenue→count: y = cnt, x1 = own lag cl, x2 = rl
      val (_, aC, bC, cC) = cramer3(md, ld("scl"), dq("srlq"),
        ld("sclcl"), dq("sclrlq"), dq("srlrlq"),
        ld("sc"), ld("sccl"), dq("scrlq"))
      val coefs = sums
        .withColumn("a_rev", aR).withColumn("b_rev", bR)
        .withColumn("c_rev", cR)
        .withColumn("a_cnt", aC).withColumn("b_cnt", bC)
        .withColumn("c_cnt", cC)
        .withColumn("denr", md * dq("srlrlq") - dq("srlq") * dq("srlq"))
        .withColumn("denc", md * ld("sclcl") - ld("scl") * ld("scl"))
        .withColumn("br_rev", when(col("denr") > 0,
          (md * dq("srrlq") - dq("srlq") * dq("srq")) / col("denr")))
        .withColumn("br_cnt", when(col("denc") > 0,
          (md * ld("sccl") - ld("scl") * ld("sc")) / col("denc")))
        .withColumn("ar_rev",
          (dq("srq") - col("br_rev") * dq("srlq")) / md)
        .withColumn("ar_cnt",
          (ld("sc") - col("br_cnt") * ld("scl")) / md)
      val ssr = lagged
        .crossJoin(broadcast(coefs.select("m", "a_rev", "b_rev", "c_rev",
          "a_cnt", "b_cnt", "c_cnt", "ar_rev", "br_rev", "ar_cnt",
          "br_cnt")))
        .withColumn("eur", col("revm") - col("a_rev")
          - col("b_rev") * col("rl") - col("c_rev") * col("cl"))
        .withColumn("err", col("revm") - col("ar_rev")
          - col("br_rev") * col("rl"))
        .withColumn("euc", col("cnt") - col("a_cnt")
          - col("b_cnt") * col("cl") - col("c_cnt") * col("rl"))
        .withColumn("erc", col("cnt") - col("ar_cnt")
          - col("br_cnt") * col("cl"))
        .groupBy("m", "b_rev", "c_rev", "b_cnt", "c_cnt")
        .agg(sum(q9(col("eur") * col("eur"))).as("ssruqr"),
          sum(q9(col("err") * col("err"))).as("ssrrqr"),
          sum(q9(col("euc") * col("euc"))).as("ssruqc"),
          sum(q9(col("erc") * col("erc"))).as("ssrrqc"))
      val fin = ssr
        .withColumn("ssrur", col("ssruqr").cast("double") / 1e9)
        .withColumn("ssrrr", col("ssrrqr").cast("double") / 1e9)
        .withColumn("ssruc", col("ssruqc").cast("double") / 1e9)
        .withColumn("ssrrc", col("ssrrqc").cast("double") / 1e9)
        .withColumn("f_rev", when(col("ssrur") > 0 && col("m") > 3,
          (col("ssrrr") - col("ssrur"))
            / (col("ssrur") / (col("m").cast("double") - 3))))
        .withColumn("f_cnt", when(col("ssruc") > 0 && col("m") > 3,
          (col("ssrrc") - col("ssruc"))
            / (col("ssruc") / (col("m").cast("double") - 3))))
      def dir(name: String, ssrr: String, ssru: String, own: String,
          cross: String, f: String) =
        fin.select(lit(name).as("direction"),
          col("m").as("n_scored"),
          detRound(col(ssrr), 6).as("ssr_restricted"),
          detRound(col(ssru), 6).as("ssr_unrestricted"),
          detRound(col(own), 6).as("own_lag_b"),
          detRound(col(cross), 6).as("cross_lag_b"),
          detRound(col(f), 4).as("f_stat"),
          (col(f) > lit(3.841)).as("causal_05"))
      dir("count->revenue", "ssrrr", "ssrur", "b_rev", "c_rev", "f_rev")
        .unionByName(
          dir("revenue->count", "ssrrc", "ssruc", "b_cnt", "c_cnt",
            "f_cnt"))
        .orderBy("direction")
    }),

    "x_dickey_fuller" -> ((s, d) => {
      // Dickey–Fuller unit-root test (JASA 1979; constant + trend at
      // lag 0) on the pooled daily order-count series: Δy_t = a + b·t
      // + γ·y_{t−1} + ε, τ = γ̂/se(γ̂) vs the asymptotic trend-spec
      // critical values −3.96 / −3.41 (1% / 5%). The confirmatory
      // complement of x_kpss_test, whose own design comment flags the
      // reversed burden of proof: KPSS's null is stationarity, DF's is
      // a unit root — the fixture lands in the agreement quadrant
      // (DF rejects the unit root AND KPSS fails to reject
      // stationarity). Every sufficient sum is an EXACT integer
      // (counts, row indices, their products); the 3×3 solve is the
      // shared cramer3 on the dailyTrend spine's (day, y, rn) grain;
      // se(γ) = √(s²·C₂₂/D) with C₂₂ = m·Σt² − (Σt)² the γ-cofactor
      // and s² = SSR/(m−3) from a 1e9-quantized residual pass.
      // Fixture pins: γ = −1.009151,
      // τ = −49.3857 — implied ρ = 1 + γ ≈ the lag-1 ACF, the
      // internally consistent picture. O(days) after the fact groupBy.
      val wD = Window.orderBy("day")
      val (rn0, _) = dailyTrend(s, d)
      val scored = rn0
        .withColumn("yl", lag(col("y"), 1).over(wD))
        .filter(col("yl").isNotNull)
        .withColumn("dy", col("y") - col("yl"))
      val sums = scored.agg(
        count(lit(1)).cast("long").as("m"),
        sum(col("rn")).cast("long").as("s1"),
        sum(col("yl")).cast("long").as("s2"),
        sum(col("rn") * col("rn")).cast("long").as("s11"),
        sum((col("rn") * col("yl")).cast("decimal(38,0)")).as("s12"),
        sum(col("yl") * col("yl")).cast("long").as("s22"),
        sum(col("dy")).cast("long").as("sy"),
        sum((col("rn") * col("dy")).cast("decimal(38,0)")).as("s1y"),
        sum((col("yl") * col("dy")).cast("decimal(38,0)")).as("s2y"))
      def cd(n: String) = col(n).cast("double")
      val (dd, aa, bb, gg) = cramer3(cd("m"), cd("s1"), cd("s2"),
        cd("s11"), cd("s12"), cd("s22"), cd("sy"), cd("s1y"), cd("s2y"))
      val coefs = sums.withColumn("ddet", dd)
        .withColumn("a", aa).withColumn("b", bb).withColumn("g", gg)
        .withColumn("c22", cd("m") * cd("s11") - cd("s1") * cd("s1"))
      val ssr = scored.crossJoin(broadcast(coefs))
        .withColumn("e", col("dy").cast("double") - col("a")
          - col("b") * col("rn") - col("g") * col("yl"))
        .groupBy("m", "ddet", "a", "b", "g", "c22")
        .agg(sum(floor(col("e") * col("e") * 1e9 + 0.5)
          .cast("decimal(38,0)")).as("ssrq"))
      ssr
        .withColumn("ssr", col("ssrq").cast("double") / 1e9)
        .withColumn("s2e", when(col("m") > 3,
          col("ssr") / (col("m") - 3)))
        .withColumn("vg", when(col("ddet") > 0,
          col("s2e") * col("c22") / col("ddet")))
        .withColumn("se", when(col("vg") > 0, sqrt(col("vg"))))
        .withColumn("tau", when(col("se") > 0, col("g") / col("se")))
        .select(col("m").as("n_scored"),
          detRound(col("a"), 6).as("intercept"),
          detRound(col("b"), 8).as("trend_b"),
          detRound(col("g"), 6).as("gamma"),
          detRound(col("se"), 6).as("se_gamma"),
          detRound(col("tau"), 4).as("tau_stat"),
          (col("tau") < lit(-3.41)).as("unit_root_rejected_05"),
          (col("tau") < lit(-3.96)).as("unit_root_rejected_01"))
    }),

    "x_partial_autocorr" -> ((s, d) => {
      // PACF at lags 1..5 on the pooled daily order-count series via
      // the Durbin–Levinson recursion UNROLLED at fixed small lags —
      // the recursion over ρ₁..ρ₅ is a closed form, so the five levels
      // chain as plain projections (no iteration at query time).
      // Beside x_autocorrelation (raw hourly ACF) and x_ar2_forecast
      // (which IS the lag-2 solve): raw ACF conflates direct and
      // inherited correlation, PACF isolates the direct lag-k effect —
      // the AR-order identification tool. ρ off the dailyCum spine's
      // exact-mean deviations, per-term 1e9-quantized products under
      // DECIMAL folds; each level's division gates on its own
      // prediction-variance denominator (NULL propagates through the
      // later levels in both engines). The unrolled closed form was
      // CONFIRMED against the direct recursion at the fixture pins
      // (φ₁₁..₅₅ all inside the ±1.96/√n white-noise band — consistent
      // with DW = 2.0157).
      // O(days) after the fact groupBy.
      val wD = Window.orderBy("day")
      val cum = dailyCum(s, d)
        .withColumn("e", col("y").cast("double") - col("mean"))
      def lagE(i: Int) = lag(col("e"), i).over(wD)
      val lad = cum.select(
        Seq(col("n"), col("e")) ++ (1 to 5).map(j =>
          when(lagE(j).isNotNull,
            floor(col("e") * lagE(j) * 1e9 + 0.5).cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)")).as(s"t$j")): _*)
      val agg = lad.groupBy(col("n"))
        .agg(sum(floor(col("e") * col("e") * 1e9 + 0.5)
          .cast("decimal(38,0)")).as("g0"),
          (1 to 5).map(j => sum(col(s"t$j")).as(s"g$j")): _*)
      def rho(j: Int) = when(col("g0") > 0,
        col(s"g$j").cast("double") / col("g0").cast("double"))
      val dl = agg
        .withColumn("r1", rho(1)).withColumn("r2", rho(2))
        .withColumn("r3", rho(3)).withColumn("r4", rho(4))
        .withColumn("r5", rho(5))
        .withColumn("p11", col("r1"))
        .withColumn("v1", lit(1.0) - col("p11") * col("p11"))
        .withColumn("p22", when(col("v1") > 0,
          (col("r2") - col("p11") * col("r1")) / col("v1")))
        .withColumn("p21", col("p11") - col("p22") * col("p11"))
        .withColumn("v2",
          col("v1") * (lit(1.0) - col("p22") * col("p22")))
        .withColumn("p33", when(col("v2") > 0,
          (col("r3") - (col("p21") * col("r2")
            + col("p22") * col("r1"))) / col("v2")))
        .withColumn("p31", col("p21") - col("p33") * col("p22"))
        .withColumn("p32", col("p22") - col("p33") * col("p21"))
        .withColumn("v3",
          col("v2") * (lit(1.0) - col("p33") * col("p33")))
        .withColumn("p44", when(col("v3") > 0,
          (col("r4") - (col("p31") * col("r3")
            + col("p32") * col("r2")
            + col("p33") * col("r1"))) / col("v3")))
        .withColumn("p41", col("p31") - col("p44") * col("p33"))
        .withColumn("p42", col("p32") - col("p44") * col("p32"))
        .withColumn("p43", col("p33") - col("p44") * col("p31"))
        .withColumn("v4",
          col("v3") * (lit(1.0) - col("p44") * col("p44")))
        .withColumn("p55", when(col("v4") > 0,
          (col("r5") - (col("p41") * col("r4")
            + col("p42") * col("r3") + col("p43") * col("r2")
            + col("p44") * col("r1"))) / col("v4")))
        .withColumn("band", lit(1.96) / sqrt(col("n").cast("double")))
      // one row per lag out of the single solved row — an explode of
      // five structs keeps the plan single-branch (the SQL twin spells
      // the same five rows as UNION ALL over its one-row CTE)
      val rows = Seq(1 -> "p11", 2 -> "p22", 3 -> "p33", 4 -> "p44",
        5 -> "p55").map { case (j, p) =>
        struct(lit(j.toLong).as("lag"), col("n").as("n_days"),
          detRound(col(s"r$j"), 6).as("acf"),
          detRound(col(p), 6).as("pacf"),
          detRound(col("band"), 6).as("wn_band"),
          (abs(col(p)) > col("band")).as("outside_band"))
      }
      dl.select(explode(array(rows: _*)).as("s")).select("s.*")
        .orderBy("lag")
    }),

    "x_mincer_zarnowitz" -> ((s, d) => {
      // Mincer–Zarnowitz forecast-efficiency regression (1969):
      // actuals on one-step forecasts, jointly testing (a, b) = (0, 1)
      // via the SSR-restriction F — the CALIBRATION question the
      // accuracy gauges (x_theil_u, x_mase) don't ask: a forecast can
      // beat naive and still be systematically improvable. Scored on
      // the monthly revenue series (where U₂ = 0.88 says the ladder
      // earns its keep) against the α = 0.3 calibration SES as the
      // lag-1..40 normalized weight ladder (ladderNum/ladderDen).
      // F = ((SSR_r − SSR_u)/2)/(SSR_u/(n−2)) vs F(2, ∞) = 2.9957.
      // Fixture verdict (the designed contrast): F = 4.4683
      // REJECTS with b < 0 — even where the ladder beats naive, the
      // joint test finds it over-reacting to the stub-month dip.
      // O(months) grain, one fact groupBy; the scored frame is
      // checkpointed (calendar-bounded at any corpus size).
      val wM = Window.orderBy("mth")
      val scored = monthlyRevMil(s, d)
        .withColumn("nq", ladderNum(i => lag(col("r"), i).over(wM), mzW))
        .withColumn("dq", ladderDen(i => lag(col("r"), i).over(wM), mzQW))
        .filter(col("dq") > 0)
        .withColumn("f",
          col("nq").cast("double") / col("dq").cast("double"))
        .localCheckpoint()
      def q9(c: Column) = floor(c * 1e9 + 0.5).cast("decimal(38,0)")
      val sums = scored.agg(count(lit(1)).cast("long").as("m"),
        sum(q9(col("f"))).as("sfq"),
        sum(q9(col("f") * col("f"))).as("sffq"),
        sum(q9(col("r"))).as("syq"),
        sum(q9(col("f") * col("r"))).as("sfyq"))
      val coefs = sums
        .withColumn("md", col("m").cast("double"))
        .withColumn("sfd", col("sfq").cast("double") / 1e9)
        .withColumn("sffd", col("sffq").cast("double") / 1e9)
        .withColumn("syd", col("syq").cast("double") / 1e9)
        .withColumn("sfyd", col("sfyq").cast("double") / 1e9)
        .withColumn("den",
          col("md") * col("sffd") - col("sfd") * col("sfd"))
        .withColumn("b", when(col("den") > 0,
          (col("md") * col("sfyd") - col("sfd") * col("syd"))
            / col("den")))
        .withColumn("a",
          (col("syd") - col("b") * col("sfd")) / col("md"))
      val ssr = scored.crossJoin(broadcast(coefs.select("m", "a", "b")))
        .withColumn("eu", col("r") - col("a") - col("b") * col("f"))
        .withColumn("er", col("r") - col("f"))
        .groupBy("m", "a", "b")
        .agg(sum(q9(col("eu") * col("eu"))).as("ssruq"),
          sum(q9(col("er") * col("er"))).as("ssrrq"))
      ssr
        .withColumn("ssru", col("ssruq").cast("double") / 1e9)
        .withColumn("ssrr", col("ssrrq").cast("double") / 1e9)
        .withColumn("fstat", when(col("ssru") > 0 && col("m") > 2,
          ((col("ssrr") - col("ssru")) / 2.0)
            / (col("ssru") / (col("m").cast("double") - 2))))
        .select(col("m").as("n_scored"),
          detRound(col("a"), 4).as("intercept"),
          detRound(col("b"), 4).as("slope"),
          detRound(col("ssrr"), 4).as("ssr_restricted"),
          detRound(col("ssru"), 4).as("ssr_unrestricted"),
          detRound(col("fstat"), 4).as("f_stat"),
          (col("fstat") <= lit(2.9957)).as("efficient_05"))
    }),

    "x_anderson_darling" -> ((s, d) => {
      // Anderson–Darling normality test (JASA 1954) on the daily
      // order-count series, pooled AND per priority — the tail-
      // weighted EDF member beside x_jarque_bera (moments) and
      // x_tukey_fences (quantiles): A² = −n − Σ(2i−1)[ln Φ(z_(i)) +
      // ln(1−Φ(z_(n+1−i)))]/n needs Φ at data-decided z, so the
      // Abramowitz–Stegun 7.1.26 erf builder evaluates IN-ENGINE
      // (drift vs exact erf 2.1e−6 on the fixture statistic — three
      // orders under the 1e6 per-term quantizer). Tie order is FREE
      // (tied values share Φ), so the
      // rank sums collapse onto the VALUE HISTOGRAM: a run of c tied
      // values after r smaller ones contributes c(2r+c)·ln Φ +
      // c(2n−2r−c)·ln(1−Φ) — exact integer weights off the doubled-
      // rank cumsum, O(scopes × distinct counts) rows after two fact
      // passes (pooled + per-priority). ln arguments are gated PER TERM
      // and a bad-term count NULLs the statistic — a NULL term would
      // silently vanish from SUM in both engines.
      // Small-sample factor A²* = A²(1 + 0.75/n + 2.25/n²) (Stephens
      // 1974), verdict vs the 5% critical value 0.752. Fixture pins:
      // pooled A² = 21.392367, per-priority 152..163 — the small-
      // integer day counts are extremely discrete, normality honestly
      // rejected everywhere, consistent with x_jarque_bera.
      val pooled = t(s, d, "orders")
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("y"))
        .select(lit("ALL").as("scope"), col("y"))
      val byPr = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("scope"),
          date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("y"))
        .select(col("scope"), col("y"))
      val hist = pooled.unionByName(byPr)
        .groupBy("scope", "y").agg(count(lit(1)).cast("long").as("c"))
        .localCheckpoint()
      val st = hist.groupBy("scope")
        .agg(sum(col("c")).cast("long").as("n"),
          sum(col("c") * col("y")).cast("long").as("sy"),
          sum((col("c") * col("y") * col("y")).cast("decimal(38,0)"))
            .as("syy"))
        .withColumn("mean", col("sy").cast("double") / col("n"))
        .withColumn("vr", when(col("n") > 1,
          (col("syy").cast("double")
            - col("sy").cast("double") * col("sy") / col("n"))
            / (col("n") - 1)))
        .withColumn("sd", when(col("vr") > 0, sqrt(col("vr"))))
      val ranked = exclusiveCum(hist, "y", "c", "r0", "scope")
        .join(broadcast(st.select("scope", "n", "mean", "sd")), "scope")
        .withColumn("z", when(col("sd") > 0,
          (col("y").cast("double") - col("mean")) / col("sd")))
        .withColumn("phi", phiAsCol(col("z")))
        .withColumn("w1", col("c") * (lit(2L) * col("r0") + col("c")))
        .withColumn("w2", col("c") * (lit(2L) * col("n")
          - lit(2L) * col("r0") - col("c")))
        .withColumn("bad", when(col("z").isNull
          || col("phi") <= 0 || col("phi") >= 1, 1L).otherwise(0L))
        .withColumn("term", when(col("bad") === 0,
          floor((col("w1").cast("double") * log(col("phi"))
            + col("w2").cast("double") * log(lit(1.0) - col("phi")))
            * 1e6 + 0.5).cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)")))
      ranked.groupBy(col("scope"), col("n"), col("mean"), col("sd"))
        .agg(sum(col("term")).as("sq"), sum(col("bad")).as("badc"))
        .withColumn("a2", when(col("badc") === 0 && col("n") > 0,
          -col("n").cast("double")
            - col("sq").cast("double") / 1e6 / col("n")))
        .withColumn("a2s", col("a2") * (lit(1.0) + lit(0.75) / col("n")
          + lit(2.25) / (col("n").cast("double") * col("n"))))
        .select(col("scope"), col("n").as("n_days"),
          detRound(col("mean"), 4).as("mean_daily"),
          detRound(col("sd"), 4).as("sd_daily"),
          detRound(col("a2"), 6).as("a2_stat"),
          detRound(col("a2s"), 6).as("a2_star"),
          (col("a2s") <= lit(0.752)).as("normal_05"))
        .orderBy("scope")
    }))

  def oracleSql: Map[String, String] = Map(

    "x_bootstrap_ci" -> {
      val ladder = PoisCdf.zipWithIndex.map { case (t, i) =>
        s"WHEN u < CAST($t AS DOUBLE) THEN $i"
      }.mkString(" ")
      s"""WITH docs AS MATERIALIZED (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS len
            FROM documents),
          reps AS (
            SELECT d.doc_id, d.len, b.b,
                   CAST(('0x' || substr(md5('bs:' || d.doc_id || ':'
                          || b.b), 1, 12)) AS BIGINT)
                     / CAST(281474976710656.0 AS DOUBLE) AS u
            FROM docs d
            CROSS JOIN (SELECT unnest(range(0, $BootReps)) AS b) b),
          bm AS (
            SELECT b,
                   CAST(SUM((CASE $ladder ELSE ${PoisCdf.length} END)
                        * len) AS BIGINT) AS swl,
                   CAST(SUM(CASE $ladder ELSE ${PoisCdf.length} END)
                        AS BIGINT) AS sw
            FROM reps GROUP BY 1),
          m AS (
            SELECT b, CAST(swl AS DOUBLE) / sw AS m,
                   CAST(floor(CAST(swl AS DOUBLE) / sw * 1e6 + 0.5)
                        AS BIGINT) AS qm
            FROM bm WHERE sw > 0),
          r AS (
            SELECT m, row_number() OVER (ORDER BY qm, b) AS rn FROM m),
          pt AS (
            SELECT COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS sl
            FROM docs)
          SELECT n_docs,
                 (SELECT COUNT(*) FROM m) AS n_replicates,
                 floor(CAST(sl AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
                   AS mean,
                 (SELECT floor(m * 1e6 + 0.5) / 1e6 FROM r WHERE rn = 2)
                   AS ci_lo,
                 (SELECT floor(m * 1e6 + 0.5) / 1e6 FROM r
                  WHERE rn = ${BootReps - 1}) AS ci_hi
          FROM pt"""
    },

    "x_robust_stats" ->
      """WITH ev AS (
           SELECT event_id, event_type, value FROM events),
         n AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1),
         med AS (
           SELECT event_type, value AS med FROM (
             SELECT e.event_type, e.value,
                    row_number() OVER (PARTITION BY e.event_type
                      ORDER BY e.value, e.event_id) AS rn, n.n
             FROM ev e JOIN n USING (event_type))
           WHERE rn = (n + 1) // 2),
         dev AS MATERIALIZED (
           SELECT e.event_id, e.event_type, e.value, m.med,
                  abs(e.value - m.med) AS ad
           FROM ev e JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type, ad AS mad FROM (
             SELECT d.event_type, d.ad,
                    row_number() OVER (PARTITION BY d.event_type
                      ORDER BY d.ad, d.event_id) AS rn, n.n
             FROM dev d JOIN n USING (event_type))
           WHERE rn = (n + 1) // 2)
         SELECT d.event_type, COUNT(*) AS n,
                floor(MAX(d.med) * 1e6 + 0.5) / 1e6 AS median,
                floor(MAX(m.mad) * 1e6 + 0.5) / 1e6 AS mad,
                CAST(SUM(CASE WHEN d.ad > CAST(3.0 AS DOUBLE)
                                         * CAST(1.4826 AS DOUBLE) * m.mad
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                floor((CAST(SUM(CASE WHEN d.ad > CAST(3.0 AS DOUBLE)
                                         * CAST(1.4826 AS DOUBLE) * m.mad
                                     THEN 1 ELSE 0 END) AS BIGINT)
                       / COUNT(*)) * 1e6 + 0.5) / 1e6 AS outlier_frac
         FROM dev d JOIN mad m USING (event_type)
         GROUP BY 1 ORDER BY event_type""",

    "x_forecast_backtest" ->
      """WITH daily AS (
           SELECT o_orderpriority AS priority,
                  date_trunc('day', o_orderdate) AS day,
                  COUNT(*) AS y
           FROM orders GROUP BY 1, 2),
         feat AS (
           SELECT priority, day, y,
                  lag(y, 1) OVER w AS l1,
                  lag(y, 7) OVER w AS l7,
                  CAST(SUM(y) OVER (PARTITION BY priority ORDER BY day
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
                    AS s7,
                  row_number() OVER w AS rn,
                  row_number() OVER (PARTITION BY priority
                    ORDER BY day DESC) AS rnd
           FROM daily
           WINDOW w AS (PARTITION BY priority ORDER BY day)),
         ev AS (SELECT * FROM feat WHERE rn > 7 AND rnd <= 28),
         m AS (
           SELECT priority, COUNT(*) AS n_days,
                  CAST(SUM(abs(y - l1)) AS BIGINT) AS e_naive,
                  CAST(SUM(abs(y - l7)) AS BIGINT) AS e_snaive,
                  CAST(SUM(abs(7 * y - s7)) AS BIGINT) AS e_mean7
           FROM ev GROUP BY 1),
         u AS (
           SELECT priority, n_days, 'naive' AS method,
                  e_naive * 7 AS num FROM m
           UNION ALL
           SELECT priority, n_days, 'snaive', e_snaive * 7 FROM m
           UNION ALL
           SELECT priority, n_days, 'mean7', e_mean7 FROM m)
         SELECT priority, method, n_days,
                floor(num / (7.0 * n_days) * 1e4 + 0.5) / 1e4 AS mae,
                (row_number() OVER (PARTITION BY priority
                   ORDER BY num, method)) = 1 AS is_best
         FROM u ORDER BY priority, method""",

    "x_mann_kendall" ->
      """WITH daily AS (
           SELECT o_orderpriority AS priority,
                  date_trunc('day', o_orderdate) AS day,
                  COUNT(*) AS y
           FROM orders GROUP BY 1, 2),
         pairs AS (
           SELECT a.priority,
                  CAST(SUM(CASE WHEN b.y > a.y THEN 1
                                WHEN b.y < a.y THEN -1 ELSE 0 END)
                       AS BIGINT) AS s_stat
           FROM daily a JOIN daily b
             ON a.priority = b.priority AND a.day < b.day
           GROUP BY 1),
         n AS (SELECT priority, COUNT(*) AS n_days FROM daily GROUP BY 1),
         ties AS (
           SELECT priority,
                  CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                    AS tie_term
           FROM (SELECT priority, y, COUNT(*) AS t
                 FROM daily GROUP BY 1, 2)
           GROUP BY 1),
         v AS (
           SELECT n.priority, n.n_days, p.s_stat,
                  CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                       - ties.tie_term AS BIGINT) AS var_num
           FROM n JOIN pairs p USING (priority)
                JOIN ties USING (priority)),
         zc AS (
           SELECT *,
                  CASE WHEN s_stat > 0
                         THEN (s_stat - 1) / sqrt(var_num / 18.0)
                       WHEN s_stat < 0
                         THEN (s_stat + 1) / sqrt(var_num / 18.0)
                       ELSE 0.0 END AS zr
           FROM v)
         SELECT priority, n_days, s_stat, var_num,
                floor(zr * 1e4 + 0.5) / 1e4 AS z,
                CASE WHEN zr > 1.96 THEN 'increasing'
                     WHEN zr < -1.96 THEN 'decreasing'
                     ELSE 'no_trend' END AS trend
         FROM zc ORDER BY priority""",

    "x_seasonal_mann_kendall" ->
      """WITH daily AS (
           SELECT o_orderpriority AS priority,
                  date_trunc('day', o_orderdate) AS day,
                  month(o_orderdate) AS ssn,
                  COUNT(*) AS y
           FROM orders GROUP BY 1, 2, 3),
         pairs AS (
           SELECT a.priority,
                  CAST(SUM(CASE WHEN b.y > a.y THEN 1
                                WHEN b.y < a.y THEN -1 ELSE 0 END)
                       AS BIGINT) AS s_stat
           FROM daily a JOIN daily b
             ON a.priority = b.priority AND a.ssn = b.ssn
                AND a.day < b.day
           GROUP BY 1),
         per AS (SELECT priority, ssn, COUNT(*) AS ns
                 FROM daily GROUP BY 1, 2),
         ties AS (
           SELECT priority, ssn,
                  CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                    AS tie_s
           FROM (SELECT priority, ssn, y, COUNT(*) AS t
                 FROM daily GROUP BY 1, 2, 3)
           GROUP BY 1, 2),
         varp AS (
           SELECT p.priority,
                  CAST(SUM(p.ns * (p.ns - 1) * (2 * p.ns + 5) - t.tie_s)
                       AS BIGINT) AS var_num,
                  CAST(SUM(p.ns) AS BIGINT) AS n_days,
                  COUNT(*) AS n_seasons
           FROM per p JOIN ties t USING (priority, ssn)
           GROUP BY 1),
         zc AS (
           SELECT v.priority, v.n_days, v.n_seasons, p.s_stat, v.var_num,
                  CASE WHEN v.var_num > 0 THEN
                    CASE WHEN p.s_stat > 0
                           THEN (p.s_stat - 1) / sqrt(v.var_num / 18.0)
                         WHEN p.s_stat < 0
                           THEN (p.s_stat + 1) / sqrt(v.var_num / 18.0)
                         ELSE 0.0 END
                  END AS zr
           FROM varp v JOIN pairs p USING (priority))
         SELECT priority, n_days, n_seasons, s_stat, var_num,
                floor(zr * 1e4 + 0.5) / 1e4 AS z,
                CASE WHEN zr > 1.96 THEN 'increasing'
                     WHEN zr < -1.96 THEN 'decreasing'
                     WHEN zr IS NOT NULL THEN 'no_trend' END AS trend
         FROM zc ORDER BY priority""",

    "x_ols_multi" ->
      """WITH per AS (
           SELECT l_orderkey AS ok, COUNT(*) AS x1,
                  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2
           FROM lineitem GROUP BY 1),
         xy AS (
           SELECT CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS y,
                  p.x1, p.x2
           FROM orders o JOIN per p ON p.ok = o.o_orderkey),
         s AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS ni,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(CAST(SUM(x1) AS BIGINT) AS DOUBLE) AS sx1,
                  CAST(CAST(SUM(x2) AS BIGINT) AS DOUBLE) AS sx2,
                  CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
                  CAST(CAST(SUM(x1 * x1) AS BIGINT) AS DOUBLE) AS sx11,
                  CAST(CAST(SUM(x1 * x2) AS BIGINT) AS DOUBLE) AS sx12,
                  CAST(CAST(SUM(x2 * x2) AS BIGINT) AS DOUBLE) AS sx22,
                  CAST(SUM(CAST(x1 * y AS HUGEINT)) AS DOUBLE) AS sx1y,
                  CAST(SUM(CAST(x2 * y AS HUGEINT)) AS DOUBLE) AS sx2y,
                  CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
                       AS DOUBLE) AS syy
           FROM xy),
         m AS (
           SELECT ni, n, sx1, sx2, sy, sx1y, sx2y,
                  n * sx11 - sx1 * sx1 AS m11,
                  n * sx12 - sx1 * sx2 AS m12,
                  n * sx22 - sx2 * sx2 AS m22,
                  n * sx1y - sx1 * sy AS m1y,
                  n * sx2y - sx2 * sy AS m2y,
                  n * syy - sy * sy AS myy
           FROM s),
         f AS (
           SELECT ni, n, sx1, sx2, sy, m1y, m2y, myy,
                  (m22 * m1y - m12 * m2y)
                    / (m11 * m22 - m12 * m12) AS b1,
                  (m11 * m2y - m12 * m1y)
                    / (m11 * m22 - m12 * m12) AS b2
           FROM m)
         SELECT ni AS n_orders,
                floor(((sy - b1 * sx1 - b2 * sx2) / n) * 1e4 + 0.5) / 1e4
                  AS b0_cents,
                floor(b1 * 1e4 + 0.5) / 1e4 AS b1_cents_per_line,
                floor(b2 * 1e4 + 0.5) / 1e4 AS b2_cents_per_qty,
                floor((b1 * m1y + b2 * m2y) / myy * 1e6 + 0.5) / 1e6 AS r2
         FROM f""",

    "x_ols_trend" ->
      """WITH daily AS (
           SELECT o_orderpriority AS priority,
                  date_trunc('day', o_orderdate) AS day,
                  COUNT(*) AS y
           FROM orders GROUP BY 1, 2),
         mn AS (SELECT MIN(day) AS d0 FROM daily),
         xy AS (
           SELECT priority,
                  CAST(date_diff('day', CAST(d0 AS DATE), CAST(day AS DATE))
                       AS BIGINT) AS x,
                  y
           FROM daily CROSS JOIN mn),
         s AS (
           SELECT priority,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(COUNT(*) AS BIGINT) AS ni,
                  CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
                       AS DOUBLE) AS sxy,
                  CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx,
                  CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
                       AS DOUBLE) AS syy
           FROM xy GROUP BY 1),
         f AS (
           SELECT priority, n, ni, sx, sy, sxy, sxx, syy,
                  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
           FROM s)
         SELECT priority, ni AS n_days,
                floor(slope * 1e6 + 0.5) / 1e6 AS slope,
                floor(((sy - slope * sx) / n) * 1e6 + 0.5) / 1e6
                  AS intercept,
                floor((((n * sxy - sx * sy) * (n * sxy - sx * sy))
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
                      * 1e6 + 0.5) / 1e6 AS r2
         FROM f ORDER BY priority""",

    "x_ewma_anomaly" -> {
      val num = (1 to EwmaLags).map(i =>
        s"""CASE WHEN lag(y, $i) OVER win IS NOT NULL
            THEN CAST(floor(lag(y, $i) OVER win
                 * CAST(${ewmaWLit(i)} AS DOUBLE) * 1e9 + 0.5) AS BIGINT)
            ELSE 0 END""").mkString(" + ")
      val num2 = (1 to EwmaLags).map(i =>
        s"""CASE WHEN lag(y, $i) OVER win IS NOT NULL
            THEN CAST(floor(CAST(lag(y, $i) OVER win AS DOUBLE)
                 * lag(y, $i) OVER win
                 * CAST(${ewmaWLit(i)} AS DOUBLE) * 1e9 + 0.5) AS BIGINT)
            ELSE 0 END""").mkString(" + ")
      val den = (1 to EwmaLags).map(i =>
        s"""CASE WHEN lag(y, $i) OVER win IS NOT NULL
            THEN CAST(${ewmaQW(i)} AS BIGINT) ELSE CAST(0 AS BIGINT)
            END""").mkString(" + ")
      s"""WITH daily AS (
            SELECT o_orderpriority AS priority,
                   date_trunc('day', o_orderdate) AS day,
                   COUNT(*) AS y
            FROM orders GROUP BY 1, 2),
          lad AS (
            SELECT priority, day, y,
                   $num AS nq, $num2 AS nq2, $den AS dq
            FROM daily
            WINDOW win AS (PARTITION BY priority ORDER BY day)),
          sc AS (
            SELECT priority, day, y,
                   CAST(nq AS DOUBLE) / CAST(dq AS DOUBLE) AS ewma,
                   greatest(CAST(nq2 AS DOUBLE) / CAST(dq AS DOUBLE)
                     - (CAST(nq AS DOUBLE) / CAST(dq AS DOUBLE))
                       * (CAST(nq AS DOUBLE) / CAST(dq AS DOUBLE)),
                     CAST(0.0 AS DOUBLE)) AS vr
            FROM lad WHERE dq > 0),
          zz AS (
            SELECT priority, day, y, ewma,
                   (y - ewma) / sqrt(vr + CAST(1.0 AS DOUBLE)) AS z
            FROM sc)
          SELECT priority, strftime(day, '%Y-%m-%d') AS day, y,
                 floor(ewma * 1e6 + 0.5) / 1e6 AS ewma,
                 floor(z * 1e6 + 0.5) / 1e6 AS z
          FROM zz
          ORDER BY CAST(floor(abs(z) * 1e6 + 0.5) AS BIGINT) DESC,
                   priority, day
          LIMIT 10"""
    },

    "x_holt_forecast" -> {
      def ladder(wLit: Int => String): String = brownNumSql("y", wLit)
      def denom(qw: Int => Long): String = brownDenSql("y", qw)
      val trendGain =
        graft.util.Num.lit17((1.0 - EwmaAlpha) / EwmaAlpha)
      s"""WITH daily AS (
            SELECT o_orderpriority AS priority,
                   date_trunc('day', o_orderdate) AS day,
                   COUNT(*) AS y
            FROM orders GROUP BY 1, 2),
          lad AS (
            SELECT priority, day, y,
                   ${ladder(ewmaWLit)} AS n1, ${denom(ewmaQW)} AS d1,
                   ${ladder(brownWLit)} AS n2, ${denom(brownQW)} AS d2
            FROM daily
            WINDOW win AS (PARTITION BY priority ORDER BY day)),
          sm AS (
            SELECT priority, day, y,
                   CAST(n1 AS DOUBLE) / CAST(d1 AS DOUBLE) AS s1,
                   CAST(n2 AS DOUBLE) / CAST(d2 AS DOUBLE) AS s2
            FROM lad WHERE d1 > 0 AND d2 > 0),
          fc AS (
            SELECT priority, day, y,
                   CAST(2.0 AS DOUBLE) * s1 - s2
                     + CAST($trendGain AS DOUBLE) * (s1 - s2) AS f
            FROM sm),
          rr AS (
            SELECT priority, day, y, f, y - f AS resid FROM fc)
          SELECT priority, strftime(day, '%Y-%m-%d') AS day, y,
                 floor(f * 1e6 + 0.5) / 1e6 AS forecast,
                 floor(resid * 1e6 + 0.5) / 1e6 AS resid
          FROM rr
          ORDER BY CAST(floor(abs(resid) * 1e6 + 0.5) AS BIGINT) DESC,
                   priority, day
          LIMIT 10"""
    },

    "x_theil_u_forecast" -> {
      val num = brownNumSql("r", ewmaWLit)
      val den = brownDenSql("r", ewmaQW)
      s"""WITH monthly AS ($monthlyRevMilSql),
          nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months
                 FROM monthly),
          lad AS (
            SELECT mth, r, $num AS nq, $den AS dq,
                   lag(r, 1) OVER win AS prev,
                   row_number() OVER (ORDER BY mth DESC) AS rnd
            FROM monthly
            WINDOW win AS (ORDER BY mth)),
          sc AS (
            SELECT r, prev,
                   CAST(nq AS DOUBLE) / CAST(dq AS DOUBLE) AS f
            FROM lad
            WHERE rnd <= 12 AND dq > 0 AND prev IS NOT NULL),
          agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
                   SUM(CAST(floor((f - r) * (f - r) * 1e6 + 0.5)
                     AS HUGEINT)) AS se,
                   SUM(CAST(floor((prev - r) * (prev - r) * 1e6
                     + 0.5) AS HUGEINT)) AS sn
            FROM sc),
          fin AS (
            SELECT n_scored, se, sn,
                   CASE WHEN CAST(sn AS DOUBLE) > 0
                     THEN sqrt(CAST(se AS DOUBLE) / CAST(sn AS DOUBLE))
                     END AS u2
            FROM agg)
          SELECT m.n_months, a.n_scored,
                 floor(sqrt(CAST(a.se AS DOUBLE) / 1e6 / a.n_scored)
                       * 1e6 + 0.5) / 1e6 AS rmse_model_mil,
                 floor(sqrt(CAST(a.sn AS DOUBLE) / 1e6 / a.n_scored)
                       * 1e6 + 0.5) / 1e6 AS rmse_naive_mil,
                 floor(a.u2 * 1e6 + 0.5) / 1e6 AS u2_stat,
                 a.u2 < 1.0 AS beats_naive
          FROM fin a CROSS JOIN nm m"""
    },

    "x_mase_forecast" -> {
      val num = brownNumSql("r", ewmaWLit)
      val den = brownDenSql("r", ewmaQW)
      s"""WITH monthly AS ($monthlyRevMilSql),
          nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months
                 FROM monthly),
          lad AS (
            SELECT mth, r, $num AS nq, $den AS dq,
                   lag(r, 1) OVER win AS prev,
                   row_number() OVER (ORDER BY mth DESC) AS rnd
            FROM monthly
            WINDOW win AS (ORDER BY mth)),
          sc AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
                   SUM(CAST(floor(abs(CAST(nq AS DOUBLE)
                     / CAST(dq AS DOUBLE) - r) * 1e6 + 0.5)
                     AS HUGEINT)) AS se
            FROM lad WHERE rnd <= 12 AND dq > 0),
          scl AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_train_steps,
                   SUM(CAST(floor(abs(r - prev) * 1e6 + 0.5)
                     AS HUGEINT)) AS sn
            FROM lad WHERE rnd > 12 AND prev IS NOT NULL),
          fin AS (
            SELECT a.n_scored, b.n_train_steps,
                   CAST(a.se AS DOUBLE) / 1e6 / a.n_scored AS mm,
                   CAST(b.sn AS DOUBLE) / 1e6 / b.n_train_steps AS ms
            FROM sc a CROSS JOIN scl b),
          fin2 AS (
            SELECT n_scored, n_train_steps, mm, ms,
                   CASE WHEN ms > 0 THEN mm / ms END AS mase
            FROM fin)
          SELECT m.n_months, f.n_scored, f.n_train_steps,
                 floor(f.mm * 1e6 + 0.5) / 1e6 AS mae_model_mil,
                 floor(f.ms * 1e6 + 0.5) / 1e6 AS scale_naive_mil,
                 floor(f.mase * 1e6 + 0.5) / 1e6 AS mase,
                 f.mase < 1.0 AS beats_naive
          FROM fin2 f CROSS JOIN nm m"""
    },

    "x_holt_winters" -> {
      def ladder(wLit: Int => String): String = brownNumSql("yd", wLit)
      def denom(qw: Int => Long): String = brownDenSql("yd", qw)
      val trendGain =
        graft.util.Num.lit17((1.0 - EwmaAlpha) / EwmaAlpha)
      s"""WITH daily AS (
            SELECT o_orderpriority AS priority,
                   date_trunc('day', o_orderdate) AS day,
                   COUNT(*) AS y
            FROM orders GROUP BY 1, 2),
          dd AS (
            -- ((d % 7) + 7) % 7: DuckDB % returns NEGATIVE remainders
            -- for dates before the anchor; Spark's pmod does not, so
            -- the plain % would split the same weekday across engines
            SELECT priority, day, y,
                   CAST(((date_diff('day',
                     TIMESTAMP '1995-01-01 00:00:00', day) % 7) + 7) % 7
                     AS BIGINT) AS dow
            FROM daily),
          si AS (SELECT priority, dow, COUNT(*) AS nd,
                        CAST(SUM(y) AS BIGINT) AS sd
                 FROM dd GROUP BY 1, 2),
          sall AS (SELECT priority, COUNT(*) AS na,
                          CAST(SUM(y) AS BIGINT) AS sa
                   FROM dd GROUP BY 1),
          des0 AS (
            SELECT d.priority, d.day, d.y,
                   CAST(si.sd AS DOUBLE) / si.nd
                     - CAST(sall.sa AS DOUBLE) / sall.na AS sdow
            FROM dd d
            JOIN si ON si.priority = d.priority AND si.dow = d.dow
            JOIN sall ON sall.priority = d.priority),
          des AS (SELECT priority, day, y, sdow, y - sdow AS yd
                  FROM des0),
          lad AS (
            SELECT priority, day, y, sdow,
                   ${ladder(ewmaWLit)} AS n1, ${denom(ewmaQW)} AS d1,
                   ${ladder(brownWLit)} AS n2, ${denom(brownQW)} AS d2
            FROM des
            WINDOW win AS (PARTITION BY priority ORDER BY day)),
          sm AS (
            SELECT priority, day, y, sdow,
                   CAST(n1 AS DOUBLE) / CAST(d1 AS DOUBLE) AS s1,
                   CAST(n2 AS DOUBLE) / CAST(d2 AS DOUBLE) AS s2
            FROM lad WHERE d1 > 0 AND d2 > 0),
          fc AS (
            SELECT priority, day, y, sdow,
                   CAST(2.0 AS DOUBLE) * s1 - s2
                     + CAST($trendGain AS DOUBLE) * (s1 - s2) + sdow AS f
            FROM sm),
          rr AS (
            SELECT priority, day, y, sdow, f, y - f AS resid FROM fc)
          SELECT priority, strftime(day, '%Y-%m-%d') AS day, y,
                 floor(sdow * 1e6 + 0.5) / 1e6 AS seasonal,
                 floor(f * 1e6 + 0.5) / 1e6 AS forecast,
                 floor(resid * 1e6 + 0.5) / 1e6 AS resid
          FROM rr
          ORDER BY CAST(floor(abs(resid) * 1e6 + 0.5) AS BIGINT) DESC,
                   priority, day
          LIMIT 10"""
    },

    "x_rank_correlation" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         c AS MATERIALIZED (
           SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dl
                FROM c GROUP BY 1),
         ent AS MATERIALIZED (
           SELECT c.doc_id, MAX(l.dl) AS len,
                  CAST(SUM(CAST(floor(-((c.c / l.dl) * ln(c.c / l.dl))
                                      * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
                    AS h
           FROM c JOIN dl l USING (doc_id) GROUP BY 1),
         ranked AS (
           SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT)
                    AS rh,
                  CAST(row_number() OVER (ORDER BY len, doc_id) AS BIGINT)
                    AS rl
           FROM ent)
         SELECT COUNT(*) AS n,
                floor((CAST(1.0 AS DOUBLE)
                       - (CAST(6.0 AS DOUBLE)
                          * CAST(SUM((rh - rl) * (rh - rl)) AS BIGINT))
                         / (COUNT(*) * (COUNT(*) * COUNT(*) - 1)))
                      * 1e6 + 0.5) / 1e6 AS spearman_rho
         FROM ranked""",

    "x_abc_analysis" ->
      """WITH rev AS MATERIALIZED (
           SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
                  CAST(floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                     * CAST(1.0 - l_discount AS DECIMAL(4,2)))
                                  AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS rq
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(SUM(rq) AS BIGINT) AS tq FROM rev),
         cum AS (
           SELECT suppkey, rq, tq,
                  CAST(SUM(rq) OVER (ORDER BY rq DESC, suppkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
           FROM rev CROSS JOIN tot),
         cls AS (
           SELECT suppkey, rq, tq,
                  CASE WHEN cum / tq <= 0.5 THEN 'A'
                       WHEN cum / tq <= 0.8 THEN 'B' ELSE 'C' END AS cls
           FROM cum)
         SELECT cls, COUNT(*) AS n_suppliers,
                floor((CAST(SUM(rq) AS BIGINT) / 1e4) * 1e2 + 0.5) / 1e2
                  AS class_revenue,
                floor((CAST(SUM(rq) AS BIGINT) / MAX(tq)) * 1e6 + 0.5) / 1e6
                  AS revenue_share
         FROM cls GROUP BY 1 ORDER BY cls""",

    "x_frequent_itemsets" ->
      """WITH baskets AS (
           SELECT DISTINCT l_orderkey AS oid, p_brand AS item
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         nb AS (SELECT COUNT(DISTINCT oid) AS nb FROM baskets),
         s1 AS (
           SELECT item, COUNT(*) AS cnt FROM baskets GROUP BY 1
           HAVING CAST(COUNT(*) AS DOUBLE) / (SELECT nb FROM nb)
                  >= 0.005),
         bf AS (SELECT oid, item FROM baskets
                WHERE item IN (SELECT item FROM s1)),
         p2 AS (
           SELECT b1.item AS a, b2.item AS b, COUNT(*) AS cnt
           FROM bf b1 JOIN bf b2
             ON b1.oid = b2.oid AND b1.item < b2.item
           GROUP BY 1, 2
           HAVING CAST(COUNT(*) AS DOUBLE) / (SELECT nb FROM nb)
                  >= 0.005),
         cand AS (
           SELECT x.a, x.b, y.b AS c
           FROM p2 x JOIN p2 y ON x.a = y.a AND x.b < y.b
           WHERE EXISTS (SELECT 1 FROM p2 z
                         WHERE z.a = x.b AND z.b = y.b)),
         t3 AS (
           SELECT c1.a, c1.b, c1.c, COUNT(*) AS cnt
           FROM cand c1
           JOIN bf b1 ON b1.item = c1.a
           JOIN bf b2 ON b2.oid = b1.oid AND b2.item = c1.b
           JOIN bf b3 ON b3.oid = b1.oid AND b3.item = c1.c
           GROUP BY 1, 2, 3
           HAVING CAST(COUNT(*) AS DOUBLE) / (SELECT nb FROM nb)
                  >= 0.005),
         lv AS (
           SELECT CAST(1 AS BIGINT) AS size, item AS itemset, cnt FROM s1
           UNION ALL
           SELECT CAST(2 AS BIGINT), a || '|' || b, cnt FROM p2
           UNION ALL
           SELECT CAST(3 AS BIGINT), a || '|' || b || '|' || c, cnt
           FROM t3)
         SELECT size, itemset, CAST(cnt AS BIGINT) AS support_count,
                floor(CAST(cnt AS DOUBLE) / (SELECT nb FROM nb)
                  * 1e6 + 0.5) / 1e6 AS support_frac
         FROM lv ORDER BY size, itemset""",

    "x_market_basket" ->
      """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
                  CAST(l.l_suppkey AS BIGINT) AS sp
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         n1 AS (SELECT sp, COUNT(*) AS n1 FROM e0 GROUP BY 1),
         nn AS (SELECT COUNT(DISTINCT c) AS nn FROM e0),
         p AS MATERIALIZED (
           SELECT a.sp AS s1, b.sp AS s2, COUNT(*) AS n12
           FROM e0 a JOIN e0 b ON a.c = b.c AND a.sp < b.sp
           GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         SELECT p.s1, p.s2, p.n12,
                floor((p.n12 / nn.nn) * 1e6 + 0.5) / 1e6 AS support,
                floor((p.n12 / na.n1) * 1e6 + 0.5) / 1e6 AS confidence,
                floor((CAST(nn.nn * p.n12 AS DOUBLE) / (na.n1 * nb.n1))
                      * 1e6 + 0.5) / 1e6 AS lift
         FROM p
         JOIN n1 na ON na.sp = p.s1
         JOIN n1 nb ON nb.sp = p.s2
         CROSS JOIN nn
         ORDER BY lift DESC, s1, s2 LIMIT 10""",

    "x_bootstrap_median_ci" -> {
      val ladder = PoisCdf.zipWithIndex.map { case (t0, i) =>
        s"WHEN u < CAST($t0 AS DOUBLE) THEN $i"
      }.mkString(" ")
      s"""WITH docs AS MATERIALIZED (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS len
            FROM documents),
          bylen AS MATERIALIZED (
            SELECT b, len, wsum FROM (
              SELECT d.b, d.len,
                     CAST(SUM(CASE $ladder ELSE ${PoisCdf.length} END)
                          AS BIGINT) AS wsum
              FROM (SELECT doc_id, len, b2.b AS b,
                           CAST(('0x' || substr(md5('bs:' || doc_id
                                  || ':' || b2.b), 1, 12)) AS BIGINT)
                             / CAST(281474976710656.0 AS DOUBLE) AS u
                    FROM docs
                    CROSS JOIN (SELECT unnest(range(0, $BootReps)) AS b)
                      b2) d
              GROUP BY 1, 2)
            WHERE wsum > 0),
          meds AS MATERIALIZED (
            SELECT b, CAST(MIN(len) AS BIGINT) AS m FROM (
              SELECT c.b, c.len,
                     SUM(c.wsum) OVER (PARTITION BY c.b ORDER BY c.len
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                     t.tw
              FROM bylen c
              JOIN (SELECT b, CAST(SUM(wsum) AS BIGINT) AS tw
                    FROM bylen GROUP BY 1) t USING (b))
            WHERE cum * 2 >= tw + 1
            GROUP BY 1),
          ranked AS (
            SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM meds),
          pt AS (
            SELECT len AS median FROM (
              SELECT len, row_number() OVER (ORDER BY len, doc_id) AS rn,
                     (SELECT COUNT(*) FROM docs) AS n
              FROM docs)
            WHERE rn = (n + 1) // 2)
          SELECT (SELECT COUNT(*) FROM docs) AS n_docs,
                 (SELECT COUNT(*) FROM meds) AS n_replicates,
                 (SELECT median FROM pt) AS median,
                 (SELECT m FROM ranked WHERE rn = 2) AS ci_lo,
                 (SELECT m FROM ranked WHERE rn = ${BootReps - 1})
                   AS ci_hi"""
    },

    "x_psi_drift" ->
      """WITH o AS (
           SELECT CASE WHEN year(o_orderdate) < 1998 THEN 'ref'
                       ELSE 'cur' END AS era,
                  CAST(least(floor(o_totalprice / 50000), 9.0) AS BIGINT)
                    AS bin
           FROM orders),
         counts AS (
           SELECT bin,
                  CAST(SUM(CASE WHEN era = 'ref' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_ref,
                  CAST(SUM(CASE WHEN era = 'cur' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_cur
           FROM o GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
                        CAST(SUM(n_cur) AS BIGINT) AS tc
                 FROM counts),
         qt AS (
           SELECT bin, n_ref, n_cur,
                  CAST(n_ref + 1 AS DOUBLE) / (tr + 10) AS p,
                  CAST(n_cur + 1 AS DOUBLE) / (tc + 10) AS q,
                  CAST(floor((CAST(n_cur + 1 AS DOUBLE) / (tc + 10)
                         - CAST(n_ref + 1 AS DOUBLE) / (tr + 10))
                       * ln((CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
                            / (CAST(n_ref + 1 AS DOUBLE) / (tr + 10)))
                       * 1e12 + 0.5) AS BIGINT) AS qterm
           FROM counts CROSS JOIN tot),
         tq AS (SELECT CAST(SUM(qterm) AS BIGINT) AS qtot FROM qt)
         SELECT bin, n_ref, n_cur,
                floor(p * 1e6 + 0.5) / 1e6 AS ref_share,
                floor(q * 1e6 + 0.5) / 1e6 AS cur_share,
                floor(qterm / 1e12 * 1e6 + 0.5) / 1e6 AS psi_term,
                floor(qtot / 1e12 * 1e6 + 0.5) / 1e6 AS psi_total
         FROM qt CROSS JOIN tq ORDER BY bin""",

    "x_tukey_hsd" ->
      """WITH g AS (
           SELECT o_orderpriority AS grp, COUNT(*) AS n,
                  SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS sy,
                  SUM(CAST(floor(o_totalprice * o_totalprice * 1e4 + 0.5)
                      AS HUGEINT)) AS syy
           FROM orders GROUP BY 1),
         gs AS (
           SELECT grp, n, sy,
                  CAST(syy AS DOUBLE) / 1e4
                    - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) / n
                    AS ssw_g
           FROM g),
         msw AS (
           SELECT CAST(SUM(CAST(floor(ssw_g * 1e4 + 0.5) AS HUGEINT))
                       AS DOUBLE) / 1e4
                  / (CAST(SUM(n) AS BIGINT) - COUNT(*)) AS msw
           FROM gs),
         pairs AS (
           SELECT a.grp AS grp_a, b.grp AS grp_b,
                  CAST(a.sy AS DOUBLE) / a.n AS ma,
                  CAST(b.sy AS DOUBLE) / b.n AS mb,
                  sqrt(msw / 2.0 * (1.0 / a.n + 1.0 / b.n)) AS se
           FROM gs a JOIN gs b ON a.grp < b.grp CROSS JOIN msw)
         SELECT grp_a, grp_b,
                floor(ma * 1e4 + 0.5) / 1e4 AS mean_a,
                floor(mb * 1e4 + 0.5) / 1e4 AS mean_b,
                floor((ma - mb) * 1e4 + 0.5) / 1e4 AS diff,
                floor(abs(ma - mb) / se * 1e6 + 0.5) / 1e6 AS q_stat,
                abs(ma - mb) / se > 3.858 AS significant_05
         FROM pairs ORDER BY grp_a, grp_b""",

    "x_anova_oneway" ->
      """WITH g AS (
           SELECT o_orderpriority AS grp, COUNT(*) AS n,
                  SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS sy,
                  SUM(CAST(floor(o_totalprice * o_totalprice * 1e4 + 0.5)
                      AS HUGEINT)) AS syy
           FROM orders GROUP BY 1),
         tot AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nn,
                        SUM(sy) AS gy
                 FROM g),
         per AS (
           SELECT t.k, t.nn,
                  CAST(g.syy AS DOUBLE) / 1e4
                    - (CAST(g.sy AS DOUBLE) * CAST(g.sy AS DOUBLE)) / g.n
                    AS ssw_g,
                  g.n * (CAST(g.sy AS DOUBLE) / g.n
                         - CAST(t.gy AS DOUBLE) / t.nn)
                      * (CAST(g.sy AS DOUBLE) / g.n
                         - CAST(t.gy AS DOUBLE) / t.nn) AS ssb_g
           FROM g CROSS JOIN tot t),
         agg AS (
           SELECT k, nn,
                  CAST(SUM(CAST(floor(ssw_g * 1e4 + 0.5) AS HUGEINT))
                       AS DOUBLE) / 1e4 AS ssw,
                  CAST(SUM(CAST(floor(ssb_g * 1e4 + 0.5) AS HUGEINT))
                       AS DOUBLE) / 1e4 AS ssb
           FROM per GROUP BY 1, 2)
         SELECT k AS n_groups, nn AS n_obs,
                floor(ssb * 1e2 + 0.5) / 1e2 AS ss_between,
                floor(ssw * 1e2 + 0.5) / 1e2 AS ss_within,
                floor((ssb / (k - 1)) / (ssw / (nn - k)) * 1e6 + 0.5) / 1e6
                  AS f_stat,
                floor(ssb / (ssb + ssw) * 1e6 + 0.5) / 1e6 AS eta_sq
         FROM agg""",

    "x_welch_anova" ->
      """WITH g0 AS (
           SELECT o_orderpriority AS grp, COUNT(*) AS n,
                  SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS sy,
                  SUM(CAST(floor(o_totalprice * o_totalprice * 1e4 + 0.5)
                      AS HUGEINT)) AS syy
           FROM orders GROUP BY 1),
         g1 AS (
           SELECT n, CAST(sy AS DOUBLE) / n AS m,
                  (CAST(syy AS DOUBLE) / 1e4
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                    / (n - 1) AS v
           FROM g0 WHERE n > 1),
         g AS (
           SELECT n, m, v,
                  CAST(floor(n / v * 1e15 + 0.5) AS HUGEINT) AS qw,
                  CAST(floor(n / v * m * 1e15 + 0.5) AS HUGEINT) AS qwm
           FROM g1 WHERE v > 0),
         tot AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nn,
                        SUM(qw) AS sw, SUM(qwm) AS swm
                 FROM g),
         per AS (
           SELECT t.k, t.nn,
                  CAST(floor(CAST(g.qw AS DOUBLE) / 1e15
                    * (g.m - CAST(t.swm AS DOUBLE) / CAST(t.sw AS DOUBLE))
                    * (g.m - CAST(t.swm AS DOUBLE) / CAST(t.sw AS DOUBLE))
                    * 1e9 + 0.5) AS HUGEINT) AS qa,
                  CAST(floor((CAST(1.0 AS DOUBLE)
                      - CAST(g.qw AS DOUBLE) / CAST(t.sw AS DOUBLE))
                    * (CAST(1.0 AS DOUBLE)
                      - CAST(g.qw AS DOUBLE) / CAST(t.sw AS DOUBLE))
                    / (g.n - 1) * 1e12 + 0.5) AS HUGEINT) AS qh
           FROM g CROSS JOIN tot t),
         agg AS (
           SELECT k, nn,
                  CAST(SUM(qa) AS DOUBLE) / 1e9 / (k - 1) AS aa,
                  CAST(SUM(qh) AS DOUBLE) / 1e12 AS hh
           FROM per GROUP BY 1, 2)
         SELECT k AS n_groups, nn AS n_obs,
                CAST(CASE WHEN k > 1 AND hh > 0 THEN
                  floor(aa / (CAST(1.0 AS DOUBLE)
                      + CAST(2.0 AS DOUBLE) * (k - 2) / (k * k - 1) * hh)
                    * 1e6 + 0.5) / 1e6 END AS DOUBLE) AS f_stat,
                CAST(k - 1 AS BIGINT) AS df1,
                CAST(CASE WHEN k > 1 AND hh > 0 THEN
                  floor((k * k - 1) / (CAST(3.0 AS DOUBLE) * hh)
                    * 1e2 + 0.5) / 1e2 END AS DOUBLE) AS df2
         FROM agg""",

    "x_proportion_ztest" ->
      """WITH byu AS (
           SELECT user_id,
                  CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) AS BIGINT) AS converted,
                  user_id % 2 AS grp
           FROM events GROUP BY 1),
         agg AS (SELECT grp, COUNT(*) AS n,
                        CAST(SUM(converted) AS BIGINT) AS k
                 FROM byu GROUP BY 1),
         a AS (SELECT n AS n1, k AS k1 FROM agg WHERE grp = 0),
         b AS (SELECT n AS n2, k AS k2 FROM agg WHERE grp = 1),
         f AS (
           SELECT n1, k1, n2, k2,
                  k1 / n1 AS p1, k2 / n2 AS p2,
                  (k1 + k2) / (n1 + n2) AS pp
           FROM a CROSS JOIN b)
         SELECT n1, k1, n2, k2,
                floor(p1 * 1e6 + 0.5) / 1e6 AS rate_a,
                floor(p2 * 1e6 + 0.5) / 1e6 AS rate_b,
                floor(((p1 - p2)
                       / sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
                              * (CAST(1.0 AS DOUBLE) / n1
                                 + CAST(1.0 AS DOUBLE) / n2)))
                      * 1e6 + 0.5) / 1e6 AS z,
                abs((p1 - p2)
                    / sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
                           * (CAST(1.0 AS DOUBLE) / n1
                              + CAST(1.0 AS DOUBLE) / n2)))
                  > CAST(1.96 AS DOUBLE) AS significant_05
         FROM f""",

    "x_cochran_armitage" ->
      """WITH lv AS (
           SELECT CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS sc,
                  COUNT(*) AS n,
                  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                           END) AS BIGINT) AS k
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                        CAST(SUM(k) AS BIGINT) AS kk,
                        COUNT(*) AS n_levels
                 FROM lv),
         agg AS (
           SELECT t.nn, t.kk, t.n_levels,
                  SUM(CAST(l.sc AS HUGEINT)
                      * (CAST(l.k AS HUGEINT) * t.nn
                         - CAST(l.n AS HUGEINT) * t.kk)) AS u,
                  SUM(CAST(l.n AS HUGEINT) * CAST(l.sc AS HUGEINT)
                      * CAST(l.sc AS HUGEINT)) AS nss,
                  SUM(CAST(l.n AS HUGEINT) * CAST(l.sc AS HUGEINT))
                    AS ns
           FROM lv l CROSS JOIN tot t
           GROUP BY 1, 2, 3),
         st AS (
           SELECT n_levels, nn, kk,
                  CAST(u AS DOUBLE)
                    / sqrt(CAST(kk AS DOUBLE) * (nn - kk)
                           * (nn * CAST(nss AS DOUBLE)
                              - CAST(ns AS DOUBLE) * CAST(ns AS DOUBLE))
                           / CAST(nn AS DOUBLE)) AS z
           FROM agg)
         SELECT n_levels, nn AS n_lines, kk AS n_returned,
                floor(z * 1e6 + 0.5) / 1e6 AS z_trend,
                abs(z) > 1.96 AS significant_05
         FROM st""",

    "x_rate_ratio" ->
      """WITH ev AS (
           SELECT CAST(ts AS DATE) AS day,
                  event_type = 'error' AS is_err,
                  dayofweek(ts) IN (0, 6) AS weekend
           FROM events),
         g AS (
           SELECT weekend,
                  CAST(SUM(CASE WHEN is_err THEN 1 ELSE 0 END)
                       AS BIGINT) AS c,
                  CAST(COUNT(DISTINCT day) AS BIGINT) AS days
           FROM ev GROUP BY 1),
         a AS (SELECT c AS c_a, days AS days_a FROM g WHERE weekend),
         b AS (SELECT c AS c_b, days AS days_b FROM g WHERE NOT weekend),
         st AS (
           SELECT c_a, days_a, c_b, days_b,
                  CASE WHEN c_a > 0 AND c_b > 0 THEN
                    (CAST(c_a AS DOUBLE) / days_a)
                      / (CAST(c_b AS DOUBLE) / days_b) END AS rr,
                  CASE WHEN c_a > 0 AND c_b > 0 THEN
                    sqrt(1.0 / c_a + 1.0 / c_b) END AS se
           FROM a CROSS JOIN b)
         SELECT c_a, days_a, c_b, days_b,
                floor(rr * 1e6 + 0.5) / 1e6 AS rate_ratio,
                floor(exp(ln(rr) - 1.96 * se) * 1e6 + 0.5) / 1e6
                  AS ci_lo,
                floor(exp(ln(rr) + 1.96 * se) * 1e6 + 0.5) / 1e6
                  AS ci_hi,
                CASE WHEN c_a > 0 AND c_b > 0 THEN
                  ln(rr) - 1.96 * se > 0.0 OR ln(rr) + 1.96 * se < 0.0
                END AS excludes_one
         FROM st""",

    "x_decision_stump" ->
      """WITH hist AS (
           SELECT CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS n,
                  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                           END) AS BIGINT) AS k
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                        CAST(SUM(k) AS BIGINT) AS kk
                 FROM hist),
         cum AS (
           SELECT q,
                  CAST(SUM(n) OVER (ORDER BY q) AS BIGINT) AS nl,
                  CAST(SUM(k) OVER (ORDER BY q) AS BIGINT) AS kl
           FROM hist),
         scored AS MATERIALIZED (
           SELECT c.q, c.nl, c.kl, t.nn - c.nl AS nr, t.kk - c.kl AS kr,
                  CAST(c.kl AS DOUBLE) / c.nl AS pl,
                  CAST(t.kk - c.kl AS DOUBLE) / (t.nn - c.nl) AS pr,
                  CAST(t.kk AS DOUBLE) / t.nn AS pp,
                  t.nn
           FROM cum c CROSS JOIN tot t
           WHERE c.nl < t.nn),
         gains AS MATERIALIZED (
           SELECT q, nl, nr, pl, pr,
                  2.0 * pp * (1.0 - pp) AS g_root,
                  (CAST(nl AS DOUBLE) / nn) * (2.0 * pl * (1.0 - pl))
                    + (CAST(nr AS DOUBLE) / nn)
                      * (2.0 * pr * (1.0 - pr)) AS g_split,
                  CAST(floor((2.0 * pp * (1.0 - pp)
                              - ((CAST(nl AS DOUBLE) / nn)
                                 * (2.0 * pl * (1.0 - pl))
                                 + (CAST(nr AS DOUBLE) / nn)
                                   * (2.0 * pr * (1.0 - pr))))
                             * 1e9 + 0.5) AS BIGINT) AS qgain
           FROM scored),
         best AS (SELECT MAX(qgain) AS qbest FROM gains),
         pick AS (
           SELECT MIN(q) AS split_q, qbest
           FROM gains, best WHERE qgain = qbest GROUP BY qbest)
         SELECT p.split_q AS split_quantity_le,
                g.nl AS n_left, g.nr AS n_right,
                floor(g.pl * 1e6 + 0.5) / 1e6 AS rate_left,
                floor(g.pr * 1e6 + 0.5) / 1e6 AS rate_right,
                floor(g.g_root * 1e6 + 0.5) / 1e6 AS gini_root,
                floor(g.g_split * 1e6 + 0.5) / 1e6 AS gini_split,
                floor(CAST(p.qbest AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
                  AS gain
         FROM pick p JOIN gains g ON g.q = p.split_q""",

    "x_mannwhitney_u" ->
      """WITH hist AS (
           SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS qv,
                  CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey
                    AS VARCHAR)), 1, 1) < '8' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey
                    AS VARCHAR)), 1, 1) < '8' THEN 0 ELSE 1 END)
                    AS BIGINT) AS c0
           FROM orders GROUP BY 1),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                        CAST(SUM(c0) AS BIGINT) AS n0
                 FROM hist),
         cum AS (
           SELECT qv, c1, c0, c1 + c0 AS t,
                  COALESCE(SUM(c0) OVER (ORDER BY qv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS s0
           FROM hist),
         agg AS (
           SELECT t.n1, t.n0, t.n1 + t.n0 AS nn,
                  SUM(CAST(c.c1 * (2 * c.s0 + c.c0) AS HUGEINT)) AS u2,
                  SUM(CAST(c.t * c.t * c.t - c.t AS HUGEINT)) AS st3
           FROM cum c CROSS JOIN tot t
           GROUP BY 1, 2, 3),
         st AS (
           SELECT n1, n0,
                  CAST(u2 AS DOUBLE) / 2.0 AS u,
                  CAST(n1 AS DOUBLE) * n0 / 2.0 AS mu,
                  CAST(n1 AS DOUBLE) * n0 / 12.0
                    * ((nn + 1) - CAST(st3 AS DOUBLE)
                       / (CAST(nn AS DOUBLE) * (nn - 1))) AS vr
           FROM agg)
         SELECT n1, n0,
                floor(u * 1e1 + 0.5) / 1e1 AS u_stat,
                floor((u - mu) / sqrt(vr) * 1e6 + 0.5) / 1e6 AS z_stat,
                abs((u - mu) / sqrt(vr)) > 1.96 AS significant_05
         FROM st""",

    "x_kruskal_wallis" ->
      """WITH hist AS MATERIALIZED (
           SELECT o_orderpriority AS grp,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS qv,
                  COUNT(*) AS c
           FROM orders GROUP BY 1, 2),
         vt AS MATERIALIZED (
           SELECT qv, CAST(SUM(c) AS BIGINT) AS t
           FROM hist GROUP BY 1),
         vts AS (
           SELECT qv, t,
                  COALESCE(SUM(t) OVER (ORDER BY qv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS s0
           FROM vt),
         gsum AS (
           SELECT h.grp, CAST(SUM(h.c) AS BIGINT) AS ng,
                  SUM(CAST(h.c * (2 * v.s0 + v.t + 1) AS HUGEINT))
                    AS r2g
           FROM hist h JOIN vts v USING (qv)
           GROUP BY 1),
         ties AS (
           SELECT SUM(CAST(t * t * t - t AS HUGEINT)) AS st3 FROM vt),
         tot AS (SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS nn
                 FROM gsum),
         terms AS (
           SELECT t.k, t.nn,
                  CAST(floor(CAST(g.r2g AS DOUBLE)
                             * CAST(g.r2g AS DOUBLE) / 4.0 / g.ng
                             * 1e4 + 0.5) AS HUGEINT) AS qterm
           FROM gsum g CROSS JOIN tot t),
         agg AS (
           SELECT k, nn, SUM(qterm) AS qsum
           FROM terms GROUP BY 1, 2),
         st AS (
           SELECT k, nn,
                  12.0 / (CAST(nn AS DOUBLE) * (nn + 1))
                    * (CAST(qsum AS DOUBLE) / 1e4)
                    - 3.0 * (nn + 1) AS h,
                  1.0 - CAST(t2.st3 AS DOUBLE)
                    / (CAST(nn AS DOUBLE) * nn * nn - nn) AS corr
           FROM agg CROSS JOIN ties t2)
         SELECT k AS n_groups, nn AS n_obs,
                floor(h * 1e4 + 0.5) / 1e4 AS h_stat,
                floor(h / corr * 1e4 + 0.5) / 1e4 AS h_tie_corrected,
                h / corr > 9.488 AS reject_05
         FROM st""",

    "x_cliffs_delta" ->
      """WITH hist AS (
           SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS qv,
                  CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey
                    AS VARCHAR)), 1, 1) < '8' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey
                    AS VARCHAR)), 1, 1) < '8' THEN 0 ELSE 1 END)
                    AS BIGINT) AS c0
           FROM orders GROUP BY 1),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                        CAST(SUM(c0) AS BIGINT) AS n0
                 FROM hist),
         cum AS (
           SELECT qv, c1, c0,
                  COALESCE(SUM(c0) OVER (ORDER BY qv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS s0
           FROM hist),
         agg AS (
           SELECT t.n1, t.n0,
                  SUM(CAST(c.c1 * c.s0 AS HUGEINT)) AS gt,
                  SUM(CAST(c.c1 * (t.n0 - c.s0 - c.c0) AS HUGEINT))
                    AS lt
           FROM cum c CROSS JOIN tot t
           GROUP BY 1, 2),
         st AS (
           SELECT n1, n0,
                  (CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                    / (CAST(n1 AS DOUBLE) * n0) AS delta
           FROM agg)
         SELECT n1, n0,
                floor(delta * 1e6 + 0.5) / 1e6 AS cliffs_delta,
                CASE WHEN abs(delta) < 0.147 THEN 'negligible'
                     WHEN abs(delta) < 0.33 THEN 'small'
                     WHEN abs(delta) < 0.474 THEN 'medium'
                     ELSE 'large' END AS magnitude
         FROM st""",

    "x_kendall_tau" ->
      """WITH monthly AS MATERIALIZED (
           SELECT year(o_orderdate) * 12 + (month(o_orderdate) - 1)
                    AS mi,
                  CAST(floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                                  AS DOUBLE) * 100 + 0.5) AS BIGINT)
                    AS rev,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM orders GROUP BY 1),
         pairs AS (
           SELECT a.rev AS x1, a.cnt AS y1, b.rev AS x2, b.cnt AS y2
           FROM monthly a JOIN monthly b ON a.mi < b.mi),
         agg AS (
           SELECT COUNT(*) AS n_pairs,
                  CAST(SUM(CASE WHEN (x2 > x1 AND y2 > y1)
                                  OR (x2 < x1 AND y2 < y1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
                  CAST(SUM(CASE WHEN (x2 > x1 AND y2 < y1)
                                  OR (x2 < x1 AND y2 > y1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
                  CAST(SUM(CASE WHEN x2 = x1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS ties_x,
                  CAST(SUM(CASE WHEN y2 = y1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS ties_y
           FROM pairs)
         SELECT n_pairs, concordant, discordant,
                floor(CAST(concordant - discordant AS DOUBLE)
                      / sqrt(CAST(n_pairs - ties_x AS DOUBLE)
                             * CAST(n_pairs - ties_y AS DOUBLE))
                      * 1e6 + 0.5) / 1e6 AS tau_b
         FROM agg""",

    "x_price_elasticity" ->
      """WITH lv AS (
           SELECT l_discount AS disc, COUNT(*) AS n,
                  SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq
           FROM lineitem GROUP BY 1),
         pts AS (
           SELECT n,
                  CAST(floor(ln(1.0 - disc) * 1e9 + 0.5) AS BIGINT)
                    AS qx,
                  CAST(floor(ln(CAST(sq AS DOUBLE) / n) * 1e9 + 0.5)
                       AS BIGINT) AS qy
           FROM lv),
         agg AS (
           SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_lines,
                  SUM(CAST(qx AS HUGEINT)) AS sx,
                  SUM(CAST(qy AS HUGEINT)) AS sy,
                  SUM(CAST(qx AS HUGEINT) * CAST(qy AS HUGEINT)) AS sxy,
                  SUM(CAST(qx AS HUGEINT) * CAST(qx AS HUGEINT)) AS sxx,
                  SUM(CAST(qy AS HUGEINT) * CAST(qy AS HUGEINT)) AS syy
           FROM pts),
         st AS (
           SELECT k, n_lines,
                  k * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                  k * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
                  k * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
           FROM agg)
         SELECT k AS n_levels, n_lines,
                floor(num / denx * 1e4 + 0.5) / 1e4 AS elasticity,
                floor(num * num / (denx * deny) * 1e6 + 0.5) / 1e6 AS r2
         FROM st""",

    "x_cohens_d" ->
      """WITH base AS (
           SELECT o_orderpriority AS grp,
                  substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '8'
                    AS tr,
                  o_totalprice AS y
           FROM orders),
         g AS (
           SELECT grp,
                  CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT)
                    AS n1,
                  SUM(CASE WHEN tr THEN CAST(y AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS sy1,
                  SUM(CAST(CASE WHEN tr THEN floor(y * y * 1e4 + 0.5)
                           ELSE 0.0 END AS HUGEINT)) AS syy1,
                  CAST(SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
                    AS n0,
                  SUM(CASE WHEN NOT tr THEN CAST(y AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS sy0,
                  SUM(CAST(CASE WHEN NOT tr THEN floor(y * y * 1e4 + 0.5)
                           ELSE 0.0 END AS HUGEINT)) AS syy0
           FROM base GROUP BY 1
           HAVING n1 > 1 AND n0 > 1),
         st AS (
           SELECT grp, n1, n0,
                  CAST(sy1 AS DOUBLE) / n1 AS m1,
                  CAST(sy0 AS DOUBLE) / n0 AS m0,
                  (CAST(syy1 AS DOUBLE) / 1e4
                   - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / n1)
                    / (n1 - 1) AS v1,
                  (CAST(syy0 AS DOUBLE) / 1e4
                   - CAST(sy0 AS DOUBLE) * CAST(sy0 AS DOUBLE) / n0)
                    / (n0 - 1) AS v0
           FROM g),
         f AS (
           SELECT grp, n1, n0,
                  (m1 - m0) / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
                                   / (n1 + n0 - 2)) AS dd
           FROM st)
         SELECT grp, n1, n0,
                floor(dd * 1e6 + 0.5) / 1e6 AS cohens_d,
                floor(dd * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9)) * 1e6
                      + 0.5) / 1e6 AS hedges_g,
                CASE WHEN abs(dd) < 0.2 THEN 'negligible'
                     WHEN abs(dd) < 0.5 THEN 'small'
                     WHEN abs(dd) < 0.8 THEN 'medium'
                     ELSE 'large' END AS magnitude
         FROM f ORDER BY grp""",

    "x_runs_test" ->
      """WITH monthly AS (
           SELECT year(o_orderdate) * 12 + (month(o_orderdate) - 1)
                    AS mi,
                  CAST(floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                                  AS DOUBLE) * 100 + 0.5) AS BIGINT)
                    AS rev_c
           FROM orders GROUP BY 1),
         diffs AS (
           SELECT mi, rev_c - lag(rev_c) OVER (ORDER BY mi) AS diff
           FROM monthly),
         signs AS (
           SELECT mi, CAST(diff > 0 AS BIGINT) AS up
           FROM diffs WHERE diff IS NOT NULL AND diff <> 0),
         chg AS (
           SELECT up,
                  CASE WHEN lag(up) OVER (ORDER BY mi) IS NULL THEN 1
                       WHEN lag(up) OVER (ORDER BY mi) <> up THEN 1
                       ELSE 0 END AS chg
           FROM signs),
         agg AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(up) AS BIGINT) AS n_up,
                  CAST(SUM(1 - up) AS BIGINT) AS n_down,
                  CAST(SUM(chg) AS BIGINT) AS runs
           FROM chg),
         st AS (
           SELECT n, n_up, n_down, runs,
                  2.0 * n_up * n_down / n + 1.0 AS mu,
                  (2.0 * n_up * n_down * (2.0 * n_up * n_down - n))
                    / (CAST(n AS DOUBLE) * n * (n - 1)) AS s2
           FROM agg)
         SELECT n AS n_changes, n_up, n_down, runs,
                floor(mu * 1e4 + 0.5) / 1e4 AS expected_runs,
                floor((runs - mu) / sqrt(s2) * 1e6 + 0.5) / 1e6 AS z_stat,
                abs((runs - mu) / sqrt(s2)) > 1.96 AS reject_random_05
         FROM st""",

    "x_wasserstein_1d" ->
      """WITH ev AS (
           SELECT n_chars AS x,
                  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS c2
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                        CAST(SUM(c2) AS BIGINT) AS n2
                 FROM ev),
         steps AS (
           SELECT t.n1, t.n2,
                  CAST(SUM(c1) OVER (ORDER BY x) AS BIGINT) AS f1,
                  CAST(SUM(c2) OVER (ORDER BY x) AS BIGINT) AS f2,
                  CAST(lead(x) OVER (ORDER BY x) - x AS DOUBLE) AS dx
           FROM ev CROSS JOIN tot t),
         q AS (
           SELECT n1, n2,
                  CAST(floor(abs(CAST(f1 AS DOUBLE) / n1
                                 - CAST(f2 AS DOUBLE) / n2) * dx
                             * 1e9 + 0.5) AS BIGINT) AS q
           FROM steps WHERE dx IS NOT NULL)
         SELECT n1, n2, COUNT(*) AS n_steps,
                floor(CAST(SUM(q) AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
                  AS wasserstein_1
         FROM q GROUP BY 1, 2""",

    "x_permutation_test" ->
      """WITH fan AS (
           SELECT CAST(o_orderkey AS VARCHAR) AS k,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS qy,
                  unnest(range(0, 33)) AS b
           FROM orders),
         cells AS (
           SELECT b,
                  CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT)
                    AS n1,
                  CAST(SUM(CASE WHEN arm THEN qy ELSE 0 END) AS BIGINT)
                    AS sy1,
                  CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END)
                       AS BIGINT) AS n0,
                  CAST(SUM(CASE WHEN NOT arm THEN qy ELSE 0 END)
                       AS BIGINT) AS sy0
           FROM (SELECT b, qy,
                        substring(md5(k || ':' || CAST(b AS VARCHAR)),
                          1, 1) < '8' AS arm
                 FROM fan)
           GROUP BY 1),
         diffs AS MATERIALIZED (
           SELECT b, n1 + n0 AS n_orders,
                  CAST(sy1 AS DOUBLE) / n1 / 100.0
                    - CAST(sy0 AS DOUBLE) / n0 / 100.0 AS diff
           FROM cells),
         q AS (SELECT b, n_orders, diff,
                      CAST(floor(abs(diff) * 1e6 + 0.5) AS BIGINT) AS qad
               FROM diffs),
         obs AS (SELECT diff AS obs_diff, qad AS obs_qad, n_orders
                 FROM q WHERE b = 0)
         SELECT o.n_orders, COUNT(*) AS b_perms,
                CAST(SUM(CASE WHEN p.qad >= o.obs_qad THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_exceed,
                floor(o.obs_diff * 1e4 + 0.5) / 1e4 AS obs_diff,
                floor((CAST(SUM(CASE WHEN p.qad >= o.obs_qad THEN 1
                                ELSE 0 END) AS DOUBLE) + 1)
                      / (COUNT(*) + 1) * 1e6 + 0.5) / 1e6 AS p_value
         FROM q p CROSS JOIN obs o
         WHERE p.b > 0
         GROUP BY o.n_orders, o.obs_diff""",

    "x_gumbel_maxima" ->
      """WITH mx AS (
           SELECT year(o_orderdate) * 12 + (month(o_orderdate) - 1)
                    AS mi,
                  MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS qmx
           FROM orders GROUP BY 1),
         agg AS (
           SELECT COUNT(*) AS n,
                  SUM(CAST(qmx AS HUGEINT)) AS sy,
                  SUM(CAST(qmx AS HUGEINT) * CAST(qmx AS HUGEINT))
                    AS syy
           FROM mx),
         st AS (
           SELECT n,
                  CAST(sy AS DOUBLE) / n / 100.0 AS m,
                  (CAST(syy AS DOUBLE) / 1e4
                   - (CAST(sy AS DOUBLE) / 100.0)
                     * (CAST(sy AS DOUBLE) / 100.0) / n) / (n - 1) AS v
           FROM agg),
         fit AS (
           SELECT n, m, sqrt(v) AS sd,
                  sqrt(v) * sqrt(6.0) / 3.141592653589793 AS beta
           FROM st),
         mu AS (
           SELECT n, m, sd, beta,
                  m - 0.57721566490153286 * beta AS mu
           FROM fit)
         SELECT n AS n_blocks,
                floor(m * 1e2 + 0.5) / 1e2 AS block_mean,
                floor(sd * 1e2 + 0.5) / 1e2 AS block_sd,
                floor(beta * 1e4 + 0.5) / 1e4 AS gumbel_beta,
                floor(mu * 1e2 + 0.5) / 1e2 AS gumbel_mu,
                floor((mu - beta * ln(-ln(1.0 - 1.0 / 12.0))) * 1e2
                      + 0.5) / 1e2 AS return_level_12
         FROM mu""",

    "x_welch_ttest" ->
      """WITH base AS (
           SELECT o_orderpriority AS grp,
                  substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '8'
                    AS tr,
                  o_totalprice AS y
           FROM orders),
         g AS (
           SELECT grp,
                  CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT)
                    AS n1,
                  SUM(CASE WHEN tr THEN CAST(y AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS sy1,
                  SUM(CAST(CASE WHEN tr THEN floor(y * y * 1e4 + 0.5)
                           ELSE 0.0 END AS HUGEINT)) AS syy1,
                  CAST(SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
                    AS n0,
                  SUM(CASE WHEN NOT tr THEN CAST(y AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS sy0,
                  SUM(CAST(CASE WHEN NOT tr THEN floor(y * y * 1e4 + 0.5)
                           ELSE 0.0 END AS HUGEINT)) AS syy0
           FROM base GROUP BY 1
           HAVING n1 > 1 AND n0 > 1),
         st AS (
           SELECT grp, n1, n0,
                  CAST(sy1 AS DOUBLE) / n1 AS m1,
                  CAST(sy0 AS DOUBLE) / n0 AS m0,
                  (CAST(syy1 AS DOUBLE) / 1e4
                   - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / n1)
                    / (n1 - 1) AS v1,
                  (CAST(syy0 AS DOUBLE) / 1e4
                   - CAST(sy0 AS DOUBLE) * CAST(sy0 AS DOUBLE) / n0)
                    / (n0 - 1) AS v0
           FROM g),
         f AS (
           SELECT grp, n1, n0, m1, m0, v1, v0,
                  v1 / n1 + v0 / n0 AS se2
           FROM st)
         SELECT grp, n1, n0,
                floor((m1 - m0) * 1e4 + 0.5) / 1e4 AS mean_diff,
                floor((m1 - m0) / sqrt(se2) * 1e6 + 0.5) / 1e6 AS t_stat,
                floor(se2 * se2
                      / (v1 / n1 * (v1 / n1) / (n1 - 1)
                         + v0 / n0 * (v0 / n0) / (n0 - 1))
                      * 1e2 + 0.5) / 1e2 AS welch_df,
                abs((m1 - m0) / sqrt(se2)) > 1.96 AS significant_05
         FROM f ORDER BY grp""",

    "x_levene_variance" ->
      """WITH means AS (
           SELECT o_orderpriority AS grp, COUNT(*) AS n,
                  SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS sy
           FROM orders GROUP BY 1),
         mz AS (SELECT grp, CAST(sy AS DOUBLE) / n AS m FROM means),
         z AS (
           SELECT o.o_orderpriority AS grp,
                  CAST(floor(abs(o.o_totalprice - mz.m) * 1e6 + 0.5)
                       AS BIGINT) AS qz,
                  CAST(floor(abs(o.o_totalprice - mz.m)
                             * abs(o.o_totalprice - mz.m) * 1e4 + 0.5)
                       AS BIGINT) AS qz2
           FROM orders o JOIN mz ON mz.grp = o.o_orderpriority),
         g AS (
           SELECT grp, COUNT(*) AS n,
                  SUM(CAST(qz AS HUGEINT)) AS sz,
                  SUM(CAST(qz2 AS HUGEINT)) AS szz
           FROM z GROUP BY 1),
         tot AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nn,
                        SUM(sz) AS gz
                 FROM g),
         per AS (
           SELECT g.grp, g.n, t.k, t.nn,
                  CAST(g.sz AS DOUBLE) / 1e6 / g.n AS zm,
                  CAST(t.gz AS DOUBLE) / 1e6 / t.nn AS gm,
                  CAST(g.szz AS DOUBLE) / 1e4
                    - (CAST(g.sz AS DOUBLE) / 1e6)
                      * (CAST(g.sz AS DOUBLE) / 1e6) / g.n AS ssw_g,
                  g.n * (CAST(g.sz AS DOUBLE) / 1e6 / g.n
                         - CAST(t.gz AS DOUBLE) / 1e6 / t.nn)
                      * (CAST(g.sz AS DOUBLE) / 1e6 / g.n
                         - CAST(t.gz AS DOUBLE) / 1e6 / t.nn) AS ssb_g
           FROM g CROSS JOIN tot t),
         w AS (
           SELECT (CAST(SUM(CAST(floor(ssb_g * 1e4 + 0.5) AS HUGEINT))
                        AS DOUBLE) / 1e4 / (MAX(k) - 1))
                  / (CAST(SUM(CAST(floor(ssw_g * 1e4 + 0.5) AS HUGEINT))
                          AS DOUBLE) / 1e4 / (MAX(nn) - MAX(k))) AS lw
           FROM per)
         SELECT per.grp, per.n,
                floor(per.zm * 1e4 + 0.5) / 1e4 AS mean_absdev,
                floor(w.lw * 1e6 + 0.5) / 1e6 AS levene_w,
                w.lw > 2.372 AS reject_equal_var_05
         FROM per, w ORDER BY per.grp""",

    "x_brown_forsythe" ->
      """WITH hist AS (
           SELECT o_orderpriority AS grp,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS yc,
                  COUNT(*) AS cnt
           FROM orders GROUP BY 1, 2),
         ng AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS ng
                FROM hist GROUP BY 1),
         cm AS (
           SELECT h.grp, h.yc, g.ng,
                  SUM(h.cnt) OVER (PARTITION BY h.grp ORDER BY h.yc
                    ROWS UNBOUNDED PRECEDING) AS cum
           FROM hist h JOIN ng g ON g.grp = h.grp),
         meds AS (
           SELECT grp, CAST(MIN(yc) AS DOUBLE) / 100.0 AS med
           FROM cm WHERE cum * 2 >= ng + 1 GROUP BY 1),
         z AS (
           SELECT o.o_orderpriority AS grp,
                  CAST(floor(abs(o.o_totalprice - m.med) * 1e6 + 0.5)
                       AS BIGINT) AS qz,
                  CAST(floor(abs(o.o_totalprice - m.med)
                             * abs(o.o_totalprice - m.med) * 1e4 + 0.5)
                       AS BIGINT) AS qz2
           FROM orders o JOIN meds m ON m.grp = o.o_orderpriority),
         g AS (
           SELECT grp, COUNT(*) AS n,
                  SUM(CAST(qz AS HUGEINT)) AS sz,
                  SUM(CAST(qz2 AS HUGEINT)) AS szz
           FROM z GROUP BY 1),
         tot AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nn,
                        SUM(sz) AS gz
                 FROM g),
         per AS (
           SELECT g.grp, g.n, t.k, t.nn,
                  CAST(g.sz AS DOUBLE) / 1e6 / g.n AS zm,
                  CAST(g.szz AS DOUBLE) / 1e4
                    - (CAST(g.sz AS DOUBLE) / 1e6)
                      * (CAST(g.sz AS DOUBLE) / 1e6) / g.n AS ssw_g,
                  g.n * (CAST(g.sz AS DOUBLE) / 1e6 / g.n
                         - CAST(t.gz AS DOUBLE) / 1e6 / t.nn)
                      * (CAST(g.sz AS DOUBLE) / 1e6 / g.n
                         - CAST(t.gz AS DOUBLE) / 1e6 / t.nn) AS ssb_g
           FROM g CROSS JOIN tot t),
         w AS (
           SELECT (CAST(SUM(CAST(floor(ssb_g * 1e4 + 0.5) AS HUGEINT))
                        AS DOUBLE) / 1e4 / (MAX(k) - 1))
                  / (CAST(SUM(CAST(floor(ssw_g * 1e4 + 0.5) AS HUGEINT))
                          AS DOUBLE) / 1e4 / (MAX(nn) - MAX(k))) AS bw
           FROM per)
         SELECT per.grp, per.n,
                floor(m.med * 1e2 + 0.5) / 1e2 AS median,
                floor(per.zm * 1e4 + 0.5) / 1e4 AS mean_absdev,
                floor(w.bw * 1e6 + 0.5) / 1e6 AS bf_w,
                w.bw > 2.372 AS reject_equal_var_05
         FROM per JOIN meds m ON m.grp = per.grp, w
         ORDER BY per.grp""",

    "x_odds_ratio" ->
      """WITH base AS (
           SELECT o_orderpriority AS grp,
                  substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < '8'
                    AS tr,
                  o_orderstatus = 'F' AS y
           FROM orders),
         cells AS (
           SELECT grp,
                  CAST(SUM(CASE WHEN tr AND y THEN 1 ELSE 0 END)
                       AS BIGINT) AS a,
                  CAST(SUM(CASE WHEN tr AND NOT y THEN 1 ELSE 0 END)
                       AS BIGINT) AS b,
                  CAST(SUM(CASE WHEN NOT tr AND y THEN 1 ELSE 0 END)
                       AS BIGINT) AS c,
                  CAST(SUM(CASE WHEN NOT tr AND NOT y THEN 1 ELSE 0 END)
                       AS BIGINT) AS dd
           FROM base GROUP BY 1),
         st AS (
           SELECT grp, a, b, c, dd,
                  CASE WHEN a > 0 AND b > 0 AND c > 0 AND dd > 0 THEN
                    CAST(a * dd AS DOUBLE) / CAST(b * c AS DOUBLE)
                  END AS orr,
                  CASE WHEN a > 0 AND b > 0 AND c > 0 AND dd > 0 THEN
                    sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd)
                  END AS se
           FROM cells)
         SELECT grp, a, b, c, dd AS d,
                floor(orr * 1e6 + 0.5) / 1e6 AS odds_ratio,
                floor(exp(ln(orr) - 1.96 * se) * 1e6 + 0.5) / 1e6 AS ci_lo,
                floor(exp(ln(orr) + 1.96 * se) * 1e6 + 0.5) / 1e6 AS ci_hi,
                CASE WHEN orr IS NOT NULL THEN
                  ln(orr) - 1.96 * se > 0.0 OR ln(orr) + 1.96 * se < 0.0
                END AS excludes_one
         FROM st ORDER BY grp""",

    "x_theil_sen" ->
      """WITH monthly AS MATERIALIZED (
           SELECT year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS mi,
                  CAST(floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                                  AS DOUBLE) * 100 + 0.5) AS BIGINT)
                    AS rev_c
           FROM orders GROUP BY 1),
         pairs AS MATERIALIZED (
           SELECT CAST(floor(CAST(b.rev_c - a.rev_c AS DOUBLE)
                             / CAST(b.mi - a.mi AS DOUBLE) * 1e6 + 0.5)
                       AS BIGINT) AS qs
           FROM monthly a JOIN monthly b ON a.mi < b.mi),
         np AS (SELECT COUNT(*) AS n FROM pairs),
         sh AS (SELECT qs, COUNT(*) AS c FROM pairs GROUP BY 1),
         scum AS (SELECT qs, SUM(c) OVER (ORDER BY qs) AS cum, np.n
                  FROM sh, np),
         slope AS (
           SELECT CAST(MIN(qs) AS DOUBLE) / 1e6 AS slope_c
           FROM scum WHERE cum >= (n + 1) // 2),
         resid AS (
           SELECT CAST(floor(m.rev_c - s.slope_c * m.mi + 0.5) AS BIGINT)
                    AS qr
           FROM monthly m, slope s),
         nr AS (SELECT COUNT(*) AS n FROM resid),
         rh AS (SELECT qr, COUNT(*) AS c FROM resid GROUP BY 1),
         rcum AS (SELECT qr, SUM(c) OVER (ORDER BY qr) AS cum, nr.n
                  FROM rh, nr),
         icept AS (
           SELECT CAST(MIN(qr) AS DOUBLE) AS icept_c
           FROM rcum WHERE cum >= (n + 1) // 2)
         SELECT (SELECT COUNT(*) FROM monthly) AS n_months,
                (SELECT COUNT(*) FROM pairs) AS n_pairs,
                floor(s.slope_c / 100.0 * 1e4 + 0.5) / 1e4 AS sen_slope,
                floor(i.icept_c / 100.0 * 1e2 + 0.5) / 1e2
                  AS sen_intercept
         FROM slope s, icept i""",

    "x_ks_statistic" ->
      """WITH ev AS MATERIALIZED (
           SELECT value,
                  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) AS BIGINT) AS c2
           FROM events
           WHERE event_type IN ('view', 'purchase')
           GROUP BY 1),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                        CAST(SUM(c2) AS BIGINT) AS n2 FROM ev),
         steps AS MATERIALIZED (
           SELECT value, n1, n2,
                  CAST(floor(abs(
                    CAST(SUM(c1) OVER w AS BIGINT) / n1
                    - CAST(SUM(c2) OVER w AS BIGINT) / n2) * 1e9 + 0.5)
                    AS BIGINT) AS qd
           FROM ev CROSS JOIN tot
           WINDOW w AS (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         mx AS (SELECT MAX(qd) AS mq FROM steps)
         SELECT s.n1, s.n2,
                floor((s.mq2 / 1e9) * 1e6 + 0.5) / 1e6 AS ks_d,
                floor(MIN(s.value) * 1e4 + 0.5) / 1e4 AS at_value,
                floor((CAST(1.358 AS DOUBLE)
                       * sqrt((s.n1 + s.n2)
                              / CAST(s.n1 * s.n2 AS DOUBLE)))
                      * 1e6 + 0.5) / 1e6 AS crit_05,
                (s.mq2 / 1e9) > CAST(1.358 AS DOUBLE)
                  * sqrt((s.n1 + s.n2) / CAST(s.n1 * s.n2 AS DOUBLE))
                  AS reject_05
         FROM (SELECT st.*, m.mq AS mq2 FROM steps st CROSS JOIN mx m
               WHERE st.qd = m.mq) s
         GROUP BY s.n1, s.n2, s.mq2""",

    "x_benford_digits" ->
      """WITH dig AS (
           SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                   AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                  COUNT(*) AS n
           FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM dig)
         SELECT digit, n,
                floor((n / nn) * 1e6 + 0.5) / 1e6 AS observed_frac,
                floor((ln(CAST(1.0 AS DOUBLE)
                          + CAST(1.0 AS DOUBLE) / digit)
                       / ln(CAST(10.0 AS DOUBLE))) * 1e6 + 0.5) / 1e6
                  AS benford_frac,
                floor(((n - e) * (n - e) / e) * 1e4 + 0.5) / 1e4
                  AS chi2_term
         FROM (SELECT digit, n, nn,
                      nn * (ln(CAST(1.0 AS DOUBLE)
                               + CAST(1.0 AS DOUBLE) / digit)
                            / ln(CAST(10.0 AS DOUBLE))) AS e
               FROM dig CROSS JOIN tot)
         ORDER BY digit""",

    "x_gini_concentration" ->
      """WITH rev AS MATERIALIZED (
           SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
                  CAST(floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                     * CAST(1.0 - l_discount AS DECIMAL(4,2)))
                                  AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS rq
           FROM lineitem GROUP BY 1),
         rk AS (
           SELECT rq, CAST(row_number() OVER (ORDER BY rq, suppkey)
                           AS BIGINT) AS i
           FROM rev)
         SELECT COUNT(*) AS n_suppliers,
                floor((CAST(SUM(rq) AS BIGINT) / 1e4) * 1e2 + 0.5) / 1e2
                  AS total_revenue,
                floor((CAST(2 * CAST(SUM(i * rq) AS BIGINT)
                            - (COUNT(*) + 1) * CAST(SUM(rq) AS BIGINT)
                            AS DOUBLE)
                       / (COUNT(*) * CAST(SUM(rq) AS BIGINT)))
                      * 1e6 + 0.5) / 1e6 AS gini
         FROM rk""",

    "x_lorenz_curve" ->
      """WITH rev AS MATERIALIZED (
           SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
                  CAST(floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                     * CAST(1.0 - l_discount AS DECIMAL(4,2)))
                                  AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS rq
           FROM lineitem GROUP BY 1),
         rk AS (
           SELECT rq, CAST(row_number() OVER (ORDER BY rq, suppkey)
                           AS BIGINT) AS i
           FROM rev),
         tot AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(rq) AS HUGEINT) AS trq
           FROM rk),
         dd AS (
           SELECT (i * 10 + n - 1) // n AS dcl, rq
           FROM rk CROSS JOIN tot),
         g AS (
           SELECT dcl, CAST(SUM(rq) AS HUGEINT) AS dq,
                  CAST(COUNT(*) AS BIGINT) AS dn
           FROM dd GROUP BY 1),
         c AS (
           SELECT dcl, SUM(dq) OVER (ORDER BY dcl) AS cumq,
                  SUM(dn) OVER (ORDER BY dcl) AS cumn
           FROM g)
         SELECT CAST(dcl AS BIGINT) AS decile,
                CAST(cumn AS BIGINT) AS n_cum_suppliers,
                floor(CAST(cumq AS DOUBLE) / 1e4 * 1e2 + 0.5) / 1e2
                  AS cum_revenue,
                floor(CAST(cumq AS DOUBLE) / CAST(trq AS DOUBLE)
                      * 1e6 + 0.5) / 1e6 AS cum_share
         FROM c CROSS JOIN tot ORDER BY decile""",

    "x_rfm_segments" ->
      """WITH byc AS MATERIALIZED (
           SELECT CAST(o_custkey AS BIGINT) AS custkey,
                  MAX(o_orderdate) AS last_order,
                  COUNT(*) AS f,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                    AS m
           FROM orders GROUP BY 1),
         mx AS (SELECT MAX(last_order) AS mxd FROM byc),
         scored AS (
           SELECT custkey,
                  CAST(date_diff('day', CAST(last_order AS DATE),
                                 CAST(mxd AS DATE)) AS BIGINT) AS r_days,
                  m,
                  CAST(ntile(5) OVER (
                    ORDER BY date_diff('day', CAST(last_order AS DATE),
                                       CAST(mxd AS DATE)) DESC, custkey)
                    AS BIGINT) AS r_score,
                  CAST(ntile(5) OVER (ORDER BY f, custkey) AS BIGINT)
                    AS f_score,
                  CAST(ntile(5) OVER (ORDER BY m, custkey) AS BIGINT)
                    AS m_score
           FROM byc CROSS JOIN mx)
         SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                  || CAST(m_score AS VARCHAR) AS segment,
                COUNT(*) AS n_customers,
                CAST(SUM(r_days) AS BIGINT) AS sum_recency_days,
                CAST(SUM(CAST(m AS DECIMAL(18,4))) AS DOUBLE)
                  AS total_monetary
         FROM scored GROUP BY 1 ORDER BY segment""",

    "x_target_encoding" ->
      """WITH base AS MATERIALIZED (
           SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity,
                  CAST(floor(l_quantity * 1e6 + 0.5) AS BIGINT) AS q
           FROM lineitem WHERE l_orderkey < 200),
         per AS (
           SELECT l_suppkey, COUNT(*) AS n,
                  CAST(SUM(q) AS BIGINT) AS sk
           FROM base GROUP BY 1),
         g AS (SELECT COUNT(*) AS nn, CAST(SUM(q) AS BIGINT) AS ss
               FROM base)
         SELECT b.l_orderkey, b.l_linenumber, b.l_suppkey,
                floor(b.l_quantity * 1e2 + 0.5) / 1e2 AS quantity,
                p.n AS key_n,
                floor((CASE WHEN p.n > 1
                            THEN ((p.sk - b.q) / (p.n - 1)) / 1e6
                            ELSE (g.ss / g.nn) / 1e6 END) * 1e6 + 0.5) / 1e6
                  AS loo_mean,
                floor((((p.sk - b.q) / 1e6
                        + CAST(10.0 AS DOUBLE) * ((g.ss / g.nn) / 1e6))
                       / (p.n - 1 + CAST(10.0 AS DOUBLE)))
                      * 1e6 + 0.5) / 1e6 AS smoothed_mean
         FROM base b JOIN per p USING (l_suppkey) CROSS JOIN g
         ORDER BY l_orderkey, l_linenumber, l_suppkey, quantity""",

    "x_chi2_independence" ->
      """WITH o AS MATERIALIZED (
           SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY 1, 2),
         rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r
                FROM o GROUP BY 1),
         ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c FROM o GROUP BY 1),
         nn AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM o),
         spine AS (
           SELECT rt.source, ct.lang, rt.r, ct.c, nn.nn,
                  COALESCE(o.o, 0) AS ob,
                  (rt.r * ct.c) / nn.nn AS e
           FROM rt CROSS JOIN ct CROSS JOIN nn
           LEFT JOIN o ON o.source = rt.source AND o.lang = ct.lang),
         q AS (
           SELECT CAST(SUM(CAST(floor(((ob - e) * (ob - e) / e) * 1e9 + 0.5)
                                AS BIGINT)) AS BIGINT) AS sq
           FROM spine),
         dims AS (SELECT (SELECT COUNT(*) FROM rt) AS nr,
                         (SELECT COUNT(*) FROM ct) AS nc)
         SELECT nn.nn AS n_docs, d.nr AS n_sources, d.nc AS n_langs,
                (d.nr - 1) * (d.nc - 1) AS dof,
                floor((q.sq / 1e9) * 1e6 + 0.5) / 1e6 AS chi2,
                floor(sqrt((q.sq / 1e9)
                           / (nn.nn * least(d.nr - 1, d.nc - 1)))
                      * 1e6 + 0.5) / 1e6 AS cramers_v
         FROM q CROSS JOIN dims d CROSS JOIN nn""",

    "x_quantile_bins" ->
      """SELECT bin, COUNT(*) AS n,
                floor(MIN(l_extendedprice) * 1e4 + 0.5) / 1e4 AS lo,
                floor(MAX(l_extendedprice) * 1e4 + 0.5) / 1e4 AS hi,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS bin_sum
         FROM (SELECT l_extendedprice,
                      CAST(ntile(10) OVER (ORDER BY l_extendedprice,
                        l_orderkey, l_linenumber) AS BIGINT) AS bin
               FROM lineitem)
         GROUP BY 1 ORDER BY bin""",

    "x_join_skew_stats" ->
      """WITH cnt AS (
           SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1),
         tot AS (
           SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
                  MAX(c) AS max_c
           FROM cnt),
         h AS (SELECT c, COUNT(*) AS k FROM cnt GROUP BY 1),
         hc AS (SELECT c, k, SUM(k) OVER (ORDER BY c) AS cum FROM h),
         p99 AS (SELECT MIN(c) AS p99_c FROM hc, tot
                 WHERE cum >= (99 * n_keys + 99) // 100)
         SELECT tot.n_keys, tot.n_rows, tot.max_c, p99.p99_c,
                floor(CAST(tot.n_rows AS DOUBLE) / tot.n_keys
                      * 1e6 + 0.5) / 1e6 AS mean_c,
                floor(CAST(tot.max_c AS DOUBLE) * tot.n_keys / tot.n_rows
                      * 1e6 + 0.5) / 1e6 AS skew_ratio
         FROM tot, p99""",

    "x_trimmed_mean" ->
      """WITH ev AS (SELECT event_type, value FROM events),
         n AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1),
         h AS (SELECT event_type, value, COUNT(*) AS c FROM ev GROUP BY 1, 2),
         hc AS (SELECT event_type, value, c,
                  SUM(c) OVER (PARTITION BY event_type ORDER BY value) AS cum
                FROM h),
         kv AS (SELECT hc.event_type, hc.value, hc.c, hc.cum, n.n,
                  n.n // 10 AS k
                FROM hc JOIN n USING (event_type)),
         kept AS (SELECT event_type, value, c, n, k,
                    GREATEST(0, LEAST(cum, n - k)
                                - GREATEST(cum - c, k)) AS kept
                  FROM kv)
         SELECT event_type, MAX(n) AS n, MAX(k) AS k_each_side,
                floor(CAST(SUM(CAST(value AS DECIMAL(18,4)) * kept)
                           AS DOUBLE)
                      / (MAX(n) - 2 * MAX(k)) * 1e6 + 0.5) / 1e6
                  AS trimmed_mean,
                floor(CAST(SUM(CAST(value AS DECIMAL(18,4)) * c) AS DOUBLE)
                      / MAX(n) * 1e6 + 0.5) / 1e6 AS mean
         FROM kept GROUP BY 1 ORDER BY event_type""",

    "x_winsorized_stats" ->
      """WITH ev AS (SELECT event_type, value FROM events),
         n AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1),
         h AS (SELECT event_type, value, COUNT(*) AS c FROM ev GROUP BY 1, 2),
         hc AS (SELECT event_type, value, c,
                  SUM(c) OVER (PARTITION BY event_type ORDER BY value) AS cum
                FROM h),
         j AS (SELECT hc.event_type, hc.value, hc.c, hc.cum, n.n
               FROM hc JOIN n USING (event_type)),
         lo AS (SELECT event_type, MIN(value) AS p05 FROM j
                WHERE cum >= (n + 19) // 20 GROUP BY 1),
         hi AS (SELECT event_type, MIN(value) AS p95 FROM j
                WHERE cum >= (19 * n + 19) // 20 GROUP BY 1)
         SELECT j.event_type, MAX(j.n) AS n,
                floor(MAX(lo.p05) * 1e6 + 0.5) / 1e6 AS p05,
                floor(MAX(hi.p95) * 1e6 + 0.5) / 1e6 AS p95,
                floor(CAST(SUM(CAST(CASE WHEN j.value < lo.p05 THEN lo.p05
                                         WHEN j.value > hi.p95 THEN hi.p95
                                         ELSE j.value END AS DECIMAL(18,4))
                               * j.c) AS DOUBLE)
                      / MAX(j.n) * 1e6 + 0.5) / 1e6 AS winsorized_mean
         FROM j JOIN lo USING (event_type) JOIN hi USING (event_type)
         GROUP BY 1 ORDER BY event_type""",

    "x_empirical_bayes" ->
      """WITH per AS (
           SELECT l_partkey, COUNT(*) AS n,
                  SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS k
           FROM lineitem GROUP BY 1),
         q AS (
           SELECT l_partkey, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
                  CAST(floor(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * 1e9
                             + 0.5) AS BIGINT) AS q
           FROM per),
         mom AS (
           SELECT COUNT(*) AS np, CAST(SUM(q) AS DOUBLE) AS sq,
                  CAST(SUM(q * q) AS DOUBLE) AS sqq
           FROM q),
         mv AS (
           SELECT sq / CAST(np AS DOUBLE) / 1e9 AS m,
                  sqq / CAST(np AS DOUBLE) / 1e18 AS m2
           FROM mom),
         nu AS (
           SELECT m, (m * (1.0 - m) / (m2 - m * m) - 1.0) AS nu FROM mv),
         pr AS (
           SELECT m * nu AS alpha, (1.0 - m) * nu AS beta FROM nu),
         scored AS (
           SELECT q.l_partkey, q.n, q.k,
                  CAST(q.k AS DOUBLE) / CAST(q.n AS DOUBLE) AS raw_rate,
                  (CAST(q.k AS DOUBLE) + pr.alpha)
                    / (CAST(q.n AS DOUBLE) + pr.alpha + pr.beta)
                    AS shrunk_rate,
                  pr.alpha AS alpha, pr.beta AS beta
           FROM q, pr)
         SELECT l_partkey, n, k,
                floor(raw_rate * 1e6 + 0.5) / 1e6 AS raw_rate,
                floor(shrunk_rate * 1e6 + 0.5) / 1e6 AS shrunk_rate,
                floor(alpha * 1e6 + 0.5) / 1e6 AS prior_alpha,
                floor(beta * 1e6 + 0.5) / 1e6 AS prior_beta
         FROM scored
         ORDER BY CAST(floor(abs(shrunk_rate - raw_rate) * 1e9 + 0.5)
                       AS BIGINT) DESC, l_partkey ASC
         LIMIT 15""",

    "x_fdr_bh" -> {
      val cases = (1 to FdrM).map(i =>
        s"WHEN rnk = $i THEN CAST(${fdrCritLit(i)} AS DOUBLE)")
        .mkString(" ")
      s"""WITH per AS (
           SELECT c.c_nationkey AS nation, COUNT(*) AS n,
                  CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1
                           ELSE 0 END) AS BIGINT) AS k
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(n) AS BIGINT) AS tn,
                  CAST(SUM(k) AS BIGINT) AS tk
           FROM per),
         scored AS (
           SELECT per.nation, per.n, per.k,
                  CAST(t.tk AS DOUBLE) / CAST(t.tn AS DOUBLE) AS p0,
                  CAST(per.k AS DOUBLE) / CAST(per.n AS DOUBLE) AS rate
           FROM per, tot t),
         zrows AS (
           SELECT nation, n, k, rate,
                  (rate - p0)
                    / sqrt(p0 * (1.0 - p0) / CAST(n AS DOUBLE)) AS z
           FROM scored),
         rk AS (
           SELECT *, row_number() OVER (ORDER BY abs(z) DESC, nation)
                    AS rnk
           FROM zrows),
         cr AS (SELECT *, CASE $cases ELSE 9e99 END AS crit FROM rk),
         im AS (
           SELECT COALESCE(MAX(CASE WHEN abs(z) >= crit THEN rnk END), 0)
                    AS imax
           FROM cr)
         SELECT c.nation, c.n, c.k,
                floor(c.rate * 1e6 + 0.5) / 1e6 AS rate,
                floor(c.z * 1e6 + 0.5) / 1e6 AS z_stat,
                CAST(c.rnk AS BIGINT) AS bh_rank,
                floor(c.crit * 1e6 + 0.5) / 1e6 AS bh_crit,
                c.rnk <= i.imax AS rejected
         FROM cr c, im i ORDER BY bh_rank"""
    },

    "x_benjamini_yekutieli" -> {
      val cases = (1 to FdrM).map(i =>
        s"WHEN rnk = $i THEN CAST(${byCritLit(i)} AS DOUBLE)")
        .mkString(" ")
      s"""WITH per AS (
           SELECT c.c_nationkey AS nation, COUNT(*) AS n,
                  CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1
                           ELSE 0 END) AS BIGINT) AS k
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(n) AS BIGINT) AS tn,
                  CAST(SUM(k) AS BIGINT) AS tk
           FROM per),
         mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM per),
         hm AS (
           SELECT mm.m,
                  CAST(SUM(CAST(floor(1e12 / t.i + 0.5) AS BIGINT))
                    AS BIGINT) AS cmq
           FROM mm, UNNEST(range(1, mm.m + 1)) AS t(i)
           GROUP BY mm.m),
         scored AS (
           SELECT per.nation, per.n, per.k, h.m, h.cmq,
                  CAST(t.tk AS DOUBLE) / CAST(t.tn AS DOUBLE) AS p0,
                  CAST(per.k AS DOUBLE) / CAST(per.n AS DOUBLE) AS rate
           FROM per, tot t, hm h),
         zrows AS (
           SELECT nation, n, k, m, cmq, rate,
                  (rate - p0)
                    / sqrt(p0 * (1.0 - p0) / CAST(n AS DOUBLE)) AS z
           FROM scored),
         rk AS (
           SELECT *, row_number() OVER (ORDER BY abs(z) DESC, nation)
                    AS rnk
           FROM zrows),
         cr AS (SELECT *, CASE WHEN m = $FdrM
                  THEN CASE $cases ELSE 9e99 END END AS crit
                FROM rk),
         im AS (
           SELECT COALESCE(MAX(CASE WHEN abs(z) >= crit THEN rnk END), 0)
                    AS imax
           FROM cr)
         SELECT c.nation, c.n, c.k,
                floor(c.rate * 1e6 + 0.5) / 1e6 AS rate,
                floor(c.z * 1e6 + 0.5) / 1e6 AS z_stat,
                CAST(c.rnk AS BIGINT) AS by_rank,
                c.m AS m_tests,
                floor(CAST(c.cmq AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6
                  AS c_m,
                floor(c.crit * 1e6 + 0.5) / 1e6 AS by_crit,
                CASE WHEN c.crit IS NOT NULL THEN c.rnk <= i.imax END
                  AS rejected
         FROM cr c, im i ORDER BY by_rank"""
    },

    "x_grubbs_outlier" -> {
      val (tqCtes, tqFin) =
        tQuantileSqlCtes("top1", "0.05 / CAST(n AS DOUBLE)", "n - 2")
      s"""WITH daily AS (
           SELECT o_orderpriority AS priority,
                  date_trunc('day', o_orderdate) AS day,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM orders GROUP BY 1, 2),
         st0 AS (
           SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(y * y) AS BIGINT) AS syy
           FROM daily GROUP BY 1),
         st1 AS (
           SELECT priority, n, CAST(sy AS DOUBLE) / n AS mean,
                  (CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS vr
           FROM st0),
         st AS (
           SELECT priority, n, mean,
                  CASE WHEN vr > 0 THEN sqrt(vr) END AS sd
           FROM st1),
         dev AS (
           SELECT d.priority, d.day, d.y, s.n, s.mean, s.sd,
                  abs(CAST(d.y AS DOUBLE) - s.mean) AS adev,
                  row_number() OVER (PARTITION BY d.priority
                    ORDER BY abs(CAST(d.y AS DOUBLE) - s.mean) DESC,
                    d.day ASC) AS rn
           FROM daily d JOIN st s USING (priority)),
         top1 AS (SELECT * FROM dev WHERE rn = 1),
         $tqCtes,
         tqv AS (
           SELECT *, floor(tq_raw * 1e9 + 0.5) / 1e9 AS tq
           FROM $tqFin),
         fin AS (
           SELECT priority, n, mean, sd, day, y,
                  CASE WHEN sd > 0 THEN adev / sd END AS g_stat, tq,
                  CAST(n - 1 AS DOUBLE) / sqrt(CAST(n AS DOUBLE))
                    * sqrt(tq * tq / (CAST(n AS DOUBLE) - 2 + tq * tq))
                    AS g_crit
           FROM tqv)
         SELECT priority, n AS n_days,
                floor(mean * 1e4 + 0.5) / 1e4 AS mean_daily,
                floor(sd * 1e6 + 0.5) / 1e6 AS sd_daily,
                strftime(day, '%Y-%m-%d') AS extreme_day,
                y AS extreme_count,
                floor(g_stat * 1e6 + 0.5) / 1e6 AS g_stat,
                floor(tq * 1e6 + 0.5) / 1e6 AS t_quantile,
                floor(g_crit * 1e6 + 0.5) / 1e6 AS g_crit,
                g_stat > g_crit AS is_outlier
         FROM fin ORDER BY priority"""
    },

    "x_generalized_esd" -> {
      // five unrolled remove-the-max rounds; each round's stats CTE
      // anti-joins the prior winners, and each round instantiates its
      // own staged t-quantile chain under a distinct prefix (q{i}t*)
      val rounds = (1 to EsdR).map { i =>
        val rem = s"rem$i"
        val (tqCtes, tqFin) = tQuantileSqlCtes(s"top$i",
          "0.05 / CAST(n AS DOUBLE)", "n - 2", s"q${i}t")
        val remCte =
          if (i == 1) "rem1 AS (SELECT * FROM daily)"
          else s"""rem$i AS (
                SELECT r.* FROM rem${i - 1} r
                WHERE NOT EXISTS (SELECT 1 FROM top${i - 1} w
                                  WHERE w.priority = r.priority
                                    AND w.day = r.day))"""
        s"""$remCte,
           st$i AS (
             SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(y) AS BIGINT) AS sy,
                    CAST(SUM(y * y) AS BIGINT) AS syy
             FROM $rem GROUP BY 1),
           stb$i AS (
             SELECT priority, n, CAST(sy AS DOUBLE) / n AS mean,
                    (CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS vr
             FROM st$i),
           stc$i AS (
             SELECT priority, n, mean,
                    CASE WHEN vr > 0 THEN sqrt(vr) END AS sd
             FROM stb$i),
           dev$i AS (
             SELECT d.priority, d.day, d.y, s.n, s.mean, s.sd,
                    abs(CAST(d.y AS DOUBLE) - s.mean) AS adev,
                    row_number() OVER (PARTITION BY d.priority
                      ORDER BY abs(CAST(d.y AS DOUBLE) - s.mean) DESC,
                      d.day ASC) AS rn
             FROM $rem d JOIN stc$i s USING (priority)),
           top$i AS (SELECT * FROM dev$i WHERE rn = 1),
           $tqCtes,
           lam$i AS (
             SELECT priority, CAST($i AS BIGINT) AS round_i, day, y, n,
                    CASE WHEN sd > 0 THEN adev / sd END AS r_stat,
                    floor(tq_raw * 1e9 + 0.5) / 1e9 AS tq
             FROM $tqFin),
           fin$i AS (
             SELECT priority, round_i, day, y, n, r_stat, tq,
                    CAST(n - 1 AS DOUBLE) / sqrt(CAST(n AS DOUBLE))
                      * sqrt(tq * tq
                             / (CAST(n AS DOUBLE) - 2 + tq * tq))
                      AS lambda
             FROM lam$i)"""
      }.mkString(",\n")
      val unions = (1 to EsdR).map(i => s"SELECT * FROM fin$i")
        .mkString(" UNION ALL ")
      s"""WITH daily AS (
           SELECT o_orderpriority AS priority,
                  date_trunc('day', o_orderdate) AS day,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM orders GROUP BY 1, 2),
         $rounds,
         allr AS ($unions),
         nout AS (
           SELECT priority AS pk,
                  CAST(MAX(CASE WHEN r_stat > lambda THEN round_i
                                ELSE 0 END) AS BIGINT) AS n_outliers
           FROM allr GROUP BY 1)
         SELECT a.priority, a.round_i,
                strftime(a.day, '%Y-%m-%d') AS extreme_day,
                a.y AS extreme_count, a.n AS n_remaining,
                floor(a.r_stat * 1e6 + 0.5) / 1e6 AS r_stat,
                floor(a.tq * 1e6 + 0.5) / 1e6 AS t_quantile,
                floor(a.lambda * 1e6 + 0.5) / 1e6 AS lambda_crit,
                a.r_stat > a.lambda AS exceeds, o.n_outliers
         FROM allr a JOIN nout o ON o.pk = a.priority
         ORDER BY a.priority, a.round_i"""
    },

    "x_tukey_fences" ->
      """WITH hist AS MATERIALIZED (
           SELECT o_orderpriority AS grp,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS yc,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM orders GROUP BY 1, 2),
         cum AS (
           SELECT h.grp, h.yc, h.cnt,
                  SUM(h.cnt) OVER (PARTITION BY h.grp ORDER BY h.yc
                    ROWS UNBOUNDED PRECEDING) AS cum,
                  g.ng
           FROM hist h
           JOIN (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS ng
                 FROM hist GROUP BY 1) g USING (grp)),
         q1 AS (SELECT grp, MIN(yc) AS q1c FROM cum
                WHERE cum * 4 >= ng GROUP BY 1),
         q3 AS (SELECT grp, MIN(yc) AS q3c FROM cum
                WHERE cum * 4 >= ng * 3 GROUP BY 1),
         fences AS (
           SELECT q1.grp, q1c, q3c, q3c - q1c AS iqrc,
                  2 * q1c - 3 * (q3c - q1c) AS lo2,
                  2 * q3c + 3 * (q3c - q1c) AS hi2
           FROM q1 JOIN q3 USING (grp)),
         fin AS (
           SELECT h.grp, f.q1c, f.q3c, f.iqrc, f.lo2, f.hi2,
                  CAST(SUM(CASE WHEN h.yc * 2 < f.lo2 THEN h.cnt
                                ELSE 0 END) AS BIGINT) AS n_below,
                  CAST(SUM(CASE WHEN h.yc * 2 > f.hi2 THEN h.cnt
                                ELSE 0 END) AS BIGINT) AS n_above,
                  CAST(SUM(h.cnt) AS BIGINT) AS n
           FROM hist h JOIN fences f USING (grp)
           GROUP BY 1, 2, 3, 4, 5, 6)
         SELECT grp AS priority, n,
                floor(CAST(q1c AS DOUBLE) / 100.0 * 1e2 + 0.5) / 1e2
                  AS q1,
                floor(CAST(q3c AS DOUBLE) / 100.0 * 1e2 + 0.5) / 1e2
                  AS q3,
                floor(CAST(iqrc AS DOUBLE) / 100.0 * 1e2 + 0.5) / 1e2
                  AS iqr,
                floor(CAST(lo2 AS DOUBLE) / 200.0 * 1e4 + 0.5) / 1e4
                  AS fence_lo,
                floor(CAST(hi2 AS DOUBLE) / 200.0 * 1e4 + 0.5) / 1e4
                  AS fence_hi,
                n_below AS n_outliers_below,
                n_above AS n_outliers_above
         FROM fin ORDER BY priority""",

    "x_theil_inequality" ->
      """WITH pc AS MATERIALIZED (
           SELECT o.ck, CAST(c.c_nationkey AS BIGINT) AS nk, o.revd
           FROM (SELECT o_custkey AS ck,
                        SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS revd
                 FROM orders GROUP BY 1) o
           JOIN customer c ON c.c_custkey = o.ck
           WHERE CAST(o.revd AS DOUBLE) > 0),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(revd) AS DOUBLE) AS tt FROM pc),
         ttl AS (
           SELECT CAST(SUM(CAST(CAST(floor(CAST(p.revd AS DOUBLE) / t.tt
                    * ln(CAST(p.revd AS DOUBLE) / t.tt * t.n)
                    * 1e12 + 0.5) AS BIGINT) AS HUGEINT)) AS DOUBLE)
                  / 1e12 AS theil_total
           FROM pc p, tot t),
         ng AS MATERIALIZED (
           SELECT nk, CAST(COUNT(*) AS BIGINT) AS cg,
                  CAST(SUM(revd) AS DOUBLE) AS rg
           FROM pc GROUP BY 1),
         btw AS (
           SELECT CAST(SUM(CAST(CAST(floor(g.rg / t.tt
                    * ln(g.rg / t.tt * t.n / g.cg) * 1e12 + 0.5)
                    AS BIGINT) AS HUGEINT)) AS DOUBLE) / 1e12
                  AS theil_between
           FROM ng g, tot t),
         wgrp AS (
           SELECT p.nk, g.rg,
                  CAST(SUM(CAST(CAST(floor(CAST(p.revd AS DOUBLE) / g.rg
                    * ln(CAST(p.revd AS DOUBLE) / g.rg * g.cg)
                    * 1e12 + 0.5) AS BIGINT) AS HUGEINT)) AS HUGEINT)
                    AS qtg
           FROM pc p JOIN ng g ON g.nk = p.nk
           GROUP BY 1, 2),
         wth AS (
           SELECT CAST(SUM(CAST(CAST(floor(w.rg / t.tt
                    * (CAST(w.qtg AS DOUBLE) / 1e12) * 1e12 + 0.5)
                    AS BIGINT) AS HUGEINT)) AS DOUBLE) / 1e12
                  AS theil_within
           FROM wgrp w, tot t),
         cnts AS (
           SELECT (SELECT COUNT(*) FROM pc) AS n_customers,
                  (SELECT COUNT(*) FROM ng) AS n_nations)
         SELECT c.n_customers, c.n_nations,
                floor(a.theil_total * 1e6 + 0.5) / 1e6 AS theil_total,
                floor(b.theil_between * 1e6 + 0.5) / 1e6
                  AS theil_between,
                floor(w.theil_within * 1e6 + 0.5) / 1e6 AS theil_within,
                floor(CASE WHEN a.theil_total > 0
                      THEN b.theil_between / a.theil_total END
                  * 1e6 + 0.5) / 1e6 AS between_share
         FROM cnts c, ttl a, btw b, wth w""",

    "x_hoover_index" ->
      """WITH pc AS MATERIALIZED (
           SELECT o_custkey AS ck,
                  SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS revd
           FROM orders GROUP BY 1),
         tot AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(revd) AS DOUBLE) AS tt
           FROM pc),
         q AS (
           SELECT CAST(SUM(CAST(CAST(floor(
                    abs(CAST(p.revd AS DOUBLE) / t.tt - 1.0 / t.n)
                    * 1e12 + 0.5) AS BIGINT) AS HUGEINT)) AS HUGEINT)
                  AS qq
           FROM pc p, tot t)
         SELECT t.n AS n_customers,
                floor(t.tt * 1e2 + 0.5) / 1e2 AS total_revenue,
                floor(CAST(q.qq AS DOUBLE) / 1e12 * 0.5 * 1e6 + 0.5)
                  / 1e6 AS hoover_index
         FROM tot t, q q""",

    "x_atkinson_index" ->
      """WITH pc AS MATERIALIZED (
           SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS revd
           FROM orders GROUP BY o_custkey),
         pp AS (
           SELECT revd, CAST(revd AS DOUBLE) AS r FROM pc
           WHERE CAST(revd AS DOUBLE) > 0),
         agg AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(revd) AS DOUBLE) AS tt,
                  CAST(SUM(CAST(floor(sqrt(r) * 1e9 + 0.5) AS HUGEINT))
                    AS DOUBLE) AS q05,
                  CAST(SUM(CAST(floor(ln(r) * 1e12 + 0.5) AS HUGEINT))
                    AS DOUBLE) AS q1
           FROM pp),
         fin AS (
           SELECT n, tt / n AS mu,
                  q05 / 1e9 / n AS m05, q1 / 1e12 / n AS m1
           FROM agg)
         SELECT n AS n_customers,
                floor(mu * 1e2 + 0.5) / 1e2 AS mean_revenue,
                floor((1.0 - m05 * m05 / mu) * 1e6 + 0.5) / 1e6
                  AS atkinson_05,
                floor((1.0 - exp(m1) / mu) * 1e6 + 0.5) / 1e6
                  AS atkinson_1
         FROM fin""",

    "x_palma_ratio" ->
      """WITH rev AS MATERIALIZED (
           SELECT CAST(o_custkey AS BIGINT) AS ck,
                  CAST(floor(CAST(SUM(CAST(o_totalprice
                    AS DECIMAL(18,4))) AS DOUBLE) * 1e4 + 0.5)
                    AS BIGINT) AS rq
           FROM orders GROUP BY 1),
         rk AS (
           SELECT rq, CAST(row_number() OVER (ORDER BY rq, ck)
                           AS BIGINT) AS i
           FROM rev),
         tot AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(rq) AS HUGEINT) AS trq
           FROM rk),
         cuts AS (
           SELECT t.n, t.trq,
                  CAST(SUM(CASE WHEN r.i <= (t.n * 4) // 10
                                THEN r.rq ELSE 0 END) AS HUGEINT)
                    AS bot,
                  CAST(SUM(CASE WHEN r.i > t.n - t.n // 10
                                THEN r.rq ELSE 0 END) AS HUGEINT)
                    AS top
           FROM rk r CROSS JOIN tot t GROUP BY 1, 2)
         SELECT n AS n_customers,
                floor(CAST(bot AS DOUBLE) / CAST(trq AS DOUBLE)
                      * 1e6 + 0.5) / 1e6 AS bottom40_share,
                floor(CAST(top AS DOUBLE) / CAST(trq AS DOUBLE)
                      * 1e6 + 0.5) / 1e6 AS top10_share,
                floor(CASE WHEN bot > 0 THEN CAST(top AS DOUBLE)
                      / CAST(bot AS DOUBLE) END * 1e6 + 0.5) / 1e6
                  AS palma_ratio
         FROM cuts""",

    "x_page_trend" ->
      s"""WITH $revCellsSql,
         $completeBlockSql,
         $rankedR2Sql,
         rankedj AS (
           SELECT trt, blk, k, r2,
                  CAST(substr(trt, 1, 1) AS BIGINT) AS j
           FROM ranked),
         agg AS (
           SELECT k, CAST(SUM(j * r2) AS BIGINT) AS l2,
                  CAST(COUNT(DISTINCT blk) AS BIGINT) AS b
           FROM rankedj GROUP BY 1),
         fin AS (
           SELECT b, k, CAST(b AS DOUBLE) AS bd, CAST(k AS DOUBLE) AS kd,
                  CAST(l2 AS DOUBLE) / 2.0 AS l
           FROM agg),
         fin2 AS (
           SELECT b, k, l,
                  bd * kd * (kd + 1) * (kd + 1) / 4.0 AS mu,
                  CASE WHEN kd > 1 THEN
                    bd * (kd * kd * kd - kd) * (kd * kd * kd - kd)
                      / (144.0 * (kd - 1))
                  END AS vr
           FROM fin),
         fin3 AS (
           -- guard BEFORE sqrt: DuckDB sqrt(<0) throws
           SELECT b, k, l, mu,
                  CASE WHEN vr > 0 THEN sqrt(vr) END AS sg
           FROM fin2),
         fin4 AS (
           SELECT b, k, l, mu, sg,
                  CASE WHEN sg > 0 THEN (l - mu) / sg END AS z
           FROM fin3)
         SELECT b AS n_blocks, k AS k_treatments,
                floor(l * 1e1 + 0.5) / 1e1 AS l_stat,
                floor(mu * 1e1 + 0.5) / 1e1 AS mu_l,
                floor(sg * 1e4 + 0.5) / 1e4 AS sigma_l,
                floor(z * 1e4 + 0.5) / 1e4 AS z,
                z > 1.645 AS increasing_05,
                z < -1.645 AS decreasing_05
         FROM fin4""",

    "x_cochran_q" ->
      s"""WITH cells AS (
           SELECT date_trunc('month', o_orderdate) AS blk,
                  o_orderpriority AS trt,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1
                                ELSE 0 END) AS BIGINT) AS cf
           FROM orders GROUP BY 1, 2),
         $completeBlockSql,
         pooled AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
                           CAST(SUM(cf) AS BIGINT) AS tk FROM full_b),
         flags AS (
           SELECT f.blk, f.trt, f.k,
                  CASE WHEN CAST(f.cf AS HUGEINT) * p.tn
                         > CAST(f.n AS HUGEINT) * p.tk
                       THEN 1 ELSE 0 END AS x
           FROM full_b f CROSS JOIN pooled p),
         cj AS (SELECT trt, k, CAST(SUM(x) AS BIGINT) AS c
                FROM flags GROUP BY 1, 2),
         ca AS (SELECT k, CAST(SUM(c) AS BIGINT) AS nt,
                       CAST(SUM(c * c) AS BIGINT) AS sc2
                FROM cj GROUP BY 1),
         ri0 AS (SELECT blk, CAST(SUM(x) AS BIGINT) AS r
                 FROM flags GROUP BY 1),
         ra AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
                       CAST(SUM(r * r) AS BIGINT) AS sr2 FROM ri0),
         fin AS (
           SELECT ra.b, ca.k, ca.nt,
                  (ca.k - 1) * (ca.k * ca.sc2 - ca.nt * ca.nt) AS num,
                  ca.k * ca.nt - ra.sr2 AS den
           FROM ca CROSS JOIN ra)
         SELECT b AS n_blocks, k AS k_treatments,
                nt AS n_success_total,
                floor(CASE WHEN den > 0
                      THEN CAST(num AS DOUBLE) / den END * 1e4 + 0.5)
                  / 1e4 AS q_stat,
                CASE WHEN den > 0 THEN CAST(num AS DOUBLE) / den END >
                  CASE k WHEN 2 THEN 3.841459
                         WHEN 3 THEN 5.991465
                         WHEN 4 THEN 7.814728
                         WHEN 5 THEN 9.487729
                         WHEN 6 THEN 11.070498 END AS reject_05
         FROM fin""",

    "x_hill_tail_index" ->
      """WITH top AS (
           SELECT o_totalprice AS v FROM orders
           ORDER BY v DESC LIMIT 201),
         thr AS (SELECT MIN(v) AS xk1 FROM top),
         q AS (
           SELECT CAST(floor(ln(v / xk1) * 1e6 + 0.5) AS BIGINT) AS q, xk1
           FROM top, thr),
         st AS (
           SELECT xk1, COUNT(*) AS n_top, CAST(SUM(q) AS DOUBLE) AS qsum
           FROM q GROUP BY 1)
         SELECT CAST(200 AS BIGINT) AS k,
                floor(xk1 * 1e2 + 0.5) / 1e2 AS threshold_value,
                floor((1.0 / (qsum / 1e6 / 200.0)) * 1e6 + 0.5) / 1e6
                  AS hill_alpha
         FROM st""",

    "x_mahalanobis_outliers" ->
      """WITH rows_ AS (
           SELECT l_orderkey,
                  CAST(l_linenumber AS BIGINT) AS l_linenumber,
                  CAST(l_quantity AS BIGINT) AS x,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
           FROM lineitem),
         mom AS (
           SELECT CAST(COUNT(*) AS DOUBLE) AS dn,
                  CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(x * x AS HUGEINT)) AS DOUBLE) AS sxx,
                  CAST(SUM(CAST(x * y AS HUGEINT)) AS DOUBLE) AS sxy,
                  CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
                       AS DOUBLE) AS syy
           FROM rows_),
         pars AS (
           SELECT sx / dn AS mx, sy / dn AS my,
                  sxx / dn - (sx / dn) * (sx / dn) AS vxx,
                  syy / dn - (sy / dn) * (sy / dn) AS vyy,
                  sxy / dn - (sx / dn) * (sy / dn) AS vxy
           FROM mom),
         pars2 AS (
           SELECT mx, my, vxx, vyy, vxy,
                  vxx * vyy - vxy * vxy AS det
           FROM pars),
         scored AS (
           SELECT r.l_orderkey, r.l_linenumber, r.x, r.y,
                  ((CAST(r.x AS DOUBLE) - p.mx) * (CAST(r.x AS DOUBLE) - p.mx)
                     * p.vyy
                   - 2.0 * (CAST(r.x AS DOUBLE) - p.mx)
                     * (CAST(r.y AS DOUBLE) - p.my) * p.vxy
                   + (CAST(r.y AS DOUBLE) - p.my)
                     * (CAST(r.y AS DOUBLE) - p.my) * p.vxx) / p.det AS d2
           FROM rows_ r, pars2 p)
         SELECT l_orderkey, l_linenumber, x AS quantity, y AS price_cents,
                floor(d2 * 1e6 + 0.5) / 1e6 AS mahalanobis_d2
         FROM scored
         ORDER BY CAST(floor(d2 * 1e9 + 0.5) AS BIGINT) DESC,
                  l_orderkey ASC, l_linenumber ASC
         LIMIT 15""",

    "x_moments" ->
      """WITH x AS (
           SELECT o_orderpriority AS priority,
                  CAST(floor(o_totalprice) AS HUGEINT) AS x
           FROM orders),
         st AS (
           SELECT priority, COUNT(*) AS n,
                  CAST(SUM(x) AS DOUBLE) AS s1,
                  CAST(SUM(x * x) AS DOUBLE) AS s2,
                  CAST(SUM(x * x * x) AS DOUBLE) AS s3,
                  CAST(SUM(x * x * x * x) AS DOUBLE) AS s4
           FROM x GROUP BY 1),
         m AS (
           SELECT priority, n, CAST(n AS DOUBLE) AS dn,
                  s1 / CAST(n AS DOUBLE) AS mu, s2, s3, s4
           FROM st),
         cm AS (
           SELECT priority, n, mu,
                  s2 / dn - mu * mu AS m2,
                  s3 / dn - 3.0 * mu * (s2 / dn) + 2.0 * mu * mu * mu AS m3,
                  s4 / dn - 4.0 * mu * (s3 / dn)
                    + 6.0 * mu * mu * (s2 / dn)
                    - 3.0 * mu * mu * mu * mu AS m4
           FROM m)
         SELECT priority, n,
                floor(mu * 1e4 + 0.5) / 1e4 AS mean_dollars,
                floor(sqrt(m2) * 1e4 + 0.5) / 1e4 AS stddev_pop,
                floor(m3 / (m2 * sqrt(m2)) * 1e6 + 0.5) / 1e6 AS skewness,
                floor((m4 / (m2 * m2) - 3.0) * 1e6 + 0.5) / 1e6
                  AS excess_kurtosis
         FROM cm ORDER BY priority""",

    "x_fisher_exact" ->
      """WITH cnt AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COUNT(*) FILTER (o_totalprice > 480000.0)
                    AS BIGINT) AS c1,
                  CAST(COUNT(*) FILTER (o_orderpriority IN
                    ('1-URGENT', '2-HIGH')) AS BIGINT) AS r1,
                  CAST(COUNT(*) FILTER (o_totalprice > 480000.0
                    AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
                    AS BIGINT) AS a
           FROM orders),
         c2 AS (SELECT n, c1, r1, a, n - r1 AS r2 FROM cnt),
         base AS (
           SELECT CAST(SUM(CAST(floor((ln(c.r2 - t.i) - ln(c.n - t.i))
                    * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS l0
           FROM c2 c, UNNEST(range(0, c.c1)) AS t(i)),
         steps AS (
           SELECT t.j,
                  CAST(floor((ln(c.r1 - t.j + 1) + ln(c.c1 - t.j + 1)
                    - ln(t.j) - ln(c.r2 - c.c1 + t.j)) * 1e9 + 0.5)
                    AS BIGINT) AS qd
           FROM c2 c, UNNEST(range(1, least(c.r1, c.c1) + 1)) AS t(j)),
         ks AS (
           SELECT j AS k,
                  SUM(qd) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING)
                    AS cqd
           FROM steps
           UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
         lp AS (SELECT k.k, b.l0 + k.cqd AS qlp
                FROM ks k CROSS JOIN base b),
         obs AS (SELECT l.qlp AS qobs FROM lp l, c2 c WHERE l.k = c.a),
         ps AS (
           SELECT CAST(SUM(CAST(floor(exp(CAST(l.qlp AS DOUBLE) / 1e9)
                    * 1e15 + 0.5) AS HUGEINT)) AS DOUBLE) / 1e15 AS p,
                  CAST(COUNT(*) AS BIGINT) AS n_tables
           FROM lp l, obs o WHERE l.qlp <= o.qobs)
         SELECT c.a AS n11, c.r1 - c.a AS n12, c.c1 - c.a AS n21,
                c.r2 - c.c1 + c.a AS n22, ps.n_tables,
                floor(CASE WHEN (c.r1 - c.a) * (c.c1 - c.a) > 0
                  THEN CAST(c.a AS DOUBLE) * (c.r2 - c.c1 + c.a)
                    / ((c.r1 - c.a) * (c.c1 - c.a)) END * 1e6 + 0.5) / 1e6
                  AS odds_ratio,
                floor(CASE WHEN c.c1 = 0 THEN 1.0 ELSE ps.p END
                  * 1e8 + 0.5) / 1e8 AS p_two_sided,
                CASE WHEN c.c1 = 0 THEN 1.0 ELSE ps.p END < 0.05
                  AS significant_05
         FROM ps, c2 c""",

    "x_friedman_test" ->
      s"""WITH $revCellsSql,
         $completeBlockSql,
         $rankedR2Sql,
         rsums AS (
           SELECT trt, k, CAST(SUM(r2) AS BIGINT) AS r2j,
                  CAST(COUNT(*) AS BIGINT) AS nb
           FROM ranked GROUP BY 1, 2),
         ties AS (
           SELECT CAST(SUM(tt * tt * tt - tt) AS BIGINT) AS st3
           FROM (SELECT blk, rev, CAST(COUNT(*) AS BIGINT) AS tt
                 FROM full_b GROUP BY 1, 2)),
         agg AS (
           SELECT k, nb, CAST(SUM(CAST(r2j * r2j AS HUGEINT)) AS DOUBLE)
                    AS sr2
           FROM rsums GROUP BY 1, 2),
         qq AS (
           SELECT a.nb, a.k, t.st3,
                  12.0 / (a.nb * a.k * (a.k + 1)) * (a.sr2 / 4.0)
                    - 3.0 * a.nb * (a.k + 1) AS q,
                  1.0 - CAST(t.st3 AS DOUBLE)
                    / (CAST(a.nb AS DOUBLE) * a.k * (a.k * a.k - 1)) AS cc
           FROM agg a CROSS JOIN ties t),
         qc AS (
           -- cc = 0 (all-tied degenerate case) -> NULL, not div-by-zero
           SELECT nb, k, q,
                  CASE WHEN cc > 0 THEN q / cc END AS qcv
           FROM qq)
         SELECT nb AS n_blocks, k AS k_treatments,
                floor(q * 1e4 + 0.5) / 1e4 AS q_stat,
                floor(qcv * 1e4 + 0.5) / 1e4 AS q_tie_corrected,
                qcv > CASE k WHEN 2 THEN 3.841459
                             WHEN 3 THEN 5.991465
                             WHEN 4 THEN 7.814728
                             WHEN 5 THEN 9.487729
                             WHEN 6 THEN 11.070498 END AS reject_05
         FROM qc""",

    "x_kendalls_w" ->
      s"""WITH $revCellsSql,
         $completeBlockSql,
         $rankedR2Sql,
         rsums AS (
           SELECT trt, k, CAST(SUM(r2) AS BIGINT) AS r2j,
                  CAST(COUNT(*) AS BIGINT) AS nb
           FROM ranked GROUP BY 1, 2),
         ties AS (
           SELECT CAST(SUM(tt * tt * tt - tt) AS BIGINT) AS st3
           FROM (SELECT blk, rev, CAST(COUNT(*) AS BIGINT) AS tt
                 FROM full_b GROUP BY 1, 2)),
         agg AS (
           SELECT k, nb,
                  SUM(CAST((r2j - nb * (k + 1)) AS HUGEINT)
                      * (r2j - nb * (k + 1))) AS s4
           FROM rsums GROUP BY 1, 2),
         fin AS (
           SELECT a.nb, a.k, a.s4, t.st3,
                  CAST(a.nb AS HUGEINT) * a.nb * a.k * (a.k * a.k - 1)
                    - CAST(a.nb AS HUGEINT) * t.st3 AS den
           FROM agg a CROSS JOIN ties t),
         fin2 AS (
           SELECT nb, k,
                  CASE WHEN den > 0 THEN 3.0 * CAST(s4 AS DOUBLE)
                    / CAST(den AS DOUBLE) END AS w
           FROM fin),
         fin3 AS (SELECT nb, k, w, nb * (k - 1) * w AS chi2w FROM fin2)
         SELECT nb AS n_blocks, k AS k_treatments,
                floor(w * 1e6 + 0.5) / 1e6 AS kendalls_w,
                floor(chi2w * 1e4 + 0.5) / 1e4 AS chi2_from_w,
                chi2w > CASE k WHEN 2 THEN 3.841459
                               WHEN 3 THEN 5.991465
                               WHEN 4 THEN 7.814728
                               WHEN 5 THEN 9.487729
                               WHEN 6 THEN 11.070498 END AS reject_05
         FROM fin3""",

    "x_quade_test" ->
      s"""WITH $revCellsSql,
         $completeBlockSql,
         $rankedR2Sql,
         rng AS (
           SELECT blk, max(rev) - min(rev) AS rng
           FROM full_b GROUP BY 1),
         qrk AS (
           SELECT blk, 2 * rank() OVER (ORDER BY rng)
                    + COUNT(*) OVER (PARTITION BY rng) - 1 AS q2
           FROM rng),
         sc AS (
           SELECT r.trt, r.k, q.q2 * (r.r2 - (r.k + 1)) AS s4
           FROM ranked r JOIN qrk q USING (blk)),
         a16t AS (SELECT SUM(CAST(s4 AS HUGEINT) * s4) AS a16 FROM sc),
         sj AS (
           SELECT trt, k, CAST(SUM(s4) AS BIGINT) AS sj4,
                  CAST(COUNT(*) AS BIGINT) AS nb
           FROM sc GROUP BY 1, 2),
         b16t AS (
           SELECT k, nb, SUM(CAST(sj4 AS HUGEINT) * sj4) AS b16
           FROM sj GROUP BY 1, 2),
         fin AS (
           SELECT b.nb, b.k, a.a16, b.b16,
                  CAST(b.nb AS DOUBLE) * CAST(a.a16 AS DOUBLE)
                    - CAST(b.b16 AS DOUBLE) AS fden
           FROM b16t b CROSS JOIN a16t a),
         fin2 AS (
           SELECT nb, k, a16, b16,
                  CASE WHEN fden > 0 THEN CAST(nb - 1 AS DOUBLE)
                    * CAST(b16 AS DOUBLE) / fden END AS f,
                  (nb - 1) * (k - 1) AS df2
           FROM fin)
         SELECT nb AS n_blocks, k AS k_treatments,
                floor(CAST(a16 AS DOUBLE) / 16.0 * 1e4 + 0.5) / 1e4
                  AS quade_a,
                floor(CAST(b16 AS DOUBLE) / 16.0 / CAST(nb AS DOUBLE)
                      * 1e4 + 0.5) / 1e4 AS quade_b,
                floor(f * 1e6 + 0.5) / 1e6 AS f_stat,
                CAST(k - 1 AS BIGINT) AS df1,
                CAST(df2 AS BIGINT) AS df2,
                CASE WHEN df2 >= 120 THEN
                  f > (CASE k WHEN 2 THEN 3.841459
                              WHEN 3 THEN 5.991465
                              WHEN 4 THEN 7.814728
                              WHEN 5 THEN 9.487729
                              WHEN 6 THEN 11.070498 END)
                      / CAST(k - 1 AS DOUBLE) END AS reject_05
         FROM fin2""",

    "x_nemenyi_posthoc" ->
      s"""WITH $revCellsSql,
         $completeBlockSql,
         $rankedR2Sql,
         rsums AS (
           SELECT trt, k, CAST(SUM(r2) AS BIGINT) AS r2j,
                  CAST(COUNT(*) AS BIGINT) AS nb
           FROM ranked GROUP BY 1, 2),
         pairs AS (
           SELECT a.trt AS trt_a, b.trt AS trt_b, a.k, a.nb,
                  a.r2j AS r2ja, b.r2j AS r2jb
           FROM rsums a JOIN rsums b ON a.trt < b.trt),
         sc AS (
           SELECT trt_a, trt_b, k, nb, r2ja, r2jb,
                  CAST(abs(r2ja - r2jb) AS DOUBLE) / (2.0 * nb)
                    AS diff,
                  (CASE k WHEN 2 THEN 1.959964
                          WHEN 3 THEN 2.343701
                          WHEN 4 THEN 2.569032
                          WHEN 5 THEN 2.727747
                          WHEN 6 THEN 2.849705 END)
                    * sqrt((k * (k + 1)) / (6.0 * nb)) AS cd
           FROM pairs)
         SELECT trt_a, trt_b, nb AS n_blocks, k AS k_treatments,
                floor(CAST(r2ja AS DOUBLE) / 2.0 / nb * 1e6 + 0.5) / 1e6
                  AS rank_a,
                floor(CAST(r2jb AS DOUBLE) / 2.0 / nb * 1e6 + 0.5) / 1e6
                  AS rank_b,
                floor(diff * 1e6 + 0.5) / 1e6 AS rank_diff,
                floor(cd * 1e6 + 0.5) / 1e6 AS crit_diff,
                diff > cd AS significant
         FROM sc ORDER BY trt_a, trt_b""",

    "x_rank_biased_overlap" -> {
      val qwCase = (1 to RboDepth).map(i =>
        s"WHEN $i THEN CAST(${rboQW(i)} AS BIGINT)").mkString(" ")
      s"""WITH base AS MATERIALIZED (
           SELECT CAST(l_suppkey AS BIGINT) AS sk,
                  -CAST(floor(CAST(SUM(CAST(l_extendedprice
                      AS DECIMAL(18,2))
                    * CAST(1.0 - l_discount AS DECIMAL(4,2)))
                    AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS rqn,
                  -CAST(floor(CAST(SUM(CAST(floor(l_quantity * 1e4
                      + 0.5) AS HUGEINT)) AS DOUBLE) / 1e4 * 1e4 + 0.5)
                    AS BIGINT) AS qqn
           FROM lineitem GROUP BY 1),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers
                FROM base),
         rk AS (
           SELECT sk,
                  CAST(row_number() OVER (ORDER BY rqn, sk) AS BIGINT)
                    AS ra,
                  CAST(row_number() OVER (ORDER BY qqn, sk) AS BIGINT)
                    AS rb
           FROM base),
         mh AS (
           SELECT greatest(ra, rb) AS m, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM rk WHERE greatest(ra, rb) <= $RboDepth GROUP BY 1),
         dep AS (SELECT CAST(range AS BIGINT) AS d
                 FROM range(1, ${RboDepth + 1})),
         cm AS (
           SELECT dep.d,
                  SUM(COALESCE(mh.cnt, 0)) OVER (ORDER BY dep.d
                    ROWS UNBOUNDED PRECEDING) AS cum
           FROM dep LEFT JOIN mh ON mh.m = dep.d),
         agg AS (
           SELECT CAST(SUM(CAST(cum AS HUGEINT)
                    * (CASE d $qwCase END)) AS HUGEINT) AS rboq
           FROM cm)
         SELECT n.n_suppliers, CAST($RboDepth AS BIGINT) AS depth,
                floor(${graft.util.Num.lit17(RboP)} * 1e6 + 0.5) / 1e6
                  AS p,
                floor(CAST(a.rboq AS DOUBLE) / 1e15 * 1e6 + 0.5) / 1e6
                  AS rbo_lo,
                floor((CAST(a.rboq AS DOUBLE) / 1e15
                       + ${graft.util.Num.lit17(rboTail)})
                      * 1e6 + 0.5) / 1e6 AS rbo_hi
         FROM agg a CROSS JOIN nn n"""
    },

    "x_jonckheere_terpstra" ->
      """WITH hist AS MATERIALIZED (
           SELECT l_discount AS g, CAST(l_quantity AS BIGINT) AS v,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM lineitem GROUP BY 1, 2),
         grid AS (
           SELECT gg.g, vv.v, COALESCE(h.c, 0) AS c
           FROM (SELECT DISTINCT g FROM hist) gg
           CROSS JOIN (SELECT DISTINCT v FROM hist) vv
           LEFT JOIN hist h ON h.g = gg.g AND h.v = vv.v),
         cums AS (
           SELECT g, v, c,
                  COALESCE(SUM(c) OVER (PARTITION BY v ORDER BY g
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS lowv
           FROM grid),
         cums2 AS (
           SELECT g, v, c, lowv,
                  COALESCE(SUM(lowv) OVER (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS below
           FROM cums),
         jt AS (SELECT CAST(SUM(CAST(c AS HUGEINT)
                  * (2 * below + lowv)) AS HUGEINT) AS jt2
                FROM cums2),
         gsz0 AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ni
                  FROM hist GROUP BY 1),
         gsz AS (
           SELECT COUNT(*) AS k, CAST(SUM(ni) AS BIGINT) AS nn,
                  CAST(SUM(CAST(ni AS HUGEINT) * ni) AS HUGEINT) AS sn2,
                  CAST(SUM(CAST(ni AS HUGEINT) * (ni - 1)
                    * (2 * ni + 5)) AS HUGEINT) AS a1,
                  CAST(SUM(CAST(ni AS HUGEINT) * (ni - 1) * (ni - 2))
                    AS HUGEINT) AS b1,
                  CAST(SUM(CAST(ni AS HUGEINT) * (ni - 1)) AS HUGEINT)
                    AS c1
           FROM gsz0),
         tsz0 AS (SELECT v, CAST(SUM(c) AS BIGINT) AS tv
                  FROM hist GROUP BY 1),
         tsz AS (
           SELECT CAST(SUM(CAST(tv AS HUGEINT) * (tv - 1)
                    * (2 * tv + 5)) AS HUGEINT) AS a2,
                  CAST(SUM(CAST(tv AS HUGEINT) * (tv - 1) * (tv - 2))
                    AS HUGEINT) AS b2,
                  CAST(SUM(CAST(tv AS HUGEINT) * (tv - 1)) AS HUGEINT)
                    AS c2
           FROM tsz0),
         fin AS (
           SELECT j.jt2, g.k, g.nn,
                  CAST(CAST(g.nn AS HUGEINT) * g.nn - g.sn2 AS DOUBLE)
                    / 2.0 AS mean2,
                  (CAST(g.nn AS DOUBLE) * (CAST(g.nn AS DOUBLE) - 1)
                    * (2 * CAST(g.nn AS DOUBLE) + 5)
                    - CAST(g.a1 AS DOUBLE) - CAST(t.a2 AS DOUBLE))
                    / 72.0 AS va,
                  CAST(g.b1 AS DOUBLE) * CAST(t.b2 AS DOUBLE)
                    / (36.0 * CAST(g.nn AS DOUBLE)
                      * (CAST(g.nn AS DOUBLE) - 1)
                      * (CAST(g.nn AS DOUBLE) - 2)) AS vb,
                  CAST(g.c1 AS DOUBLE) * CAST(t.c2 AS DOUBLE)
                    / (8.0 * CAST(g.nn AS DOUBLE)
                      * (CAST(g.nn AS DOUBLE) - 1)) AS vc
           FROM jt j CROSS JOIN gsz g CROSS JOIN tsz t),
         zz AS (
           -- guard BEFORE sqrt: DuckDB sqrt(<0) throws
           SELECT nn, k, jt2, mean2,
                  CASE WHEN va + vb + vc > 0 THEN
                    (CAST(jt2 AS DOUBLE) - mean2)
                      / (2.0 * sqrt(va + vb + vc)) END AS z
           FROM fin)
         SELECT nn AS n_obs, k AS k_levels,
                floor(CAST(jt2 AS DOUBLE) / 2.0 * 1e1 + 0.5) / 1e1
                  AS jt_stat,
                floor(mean2 / 2.0 * 1e1 + 0.5) / 1e1 AS jt_mean,
                floor(z * 1e6 + 0.5) / 1e6 AS z_stat,
                abs(z) > 1.96 AS significant_05,
                CASE WHEN z > 1.96 THEN 'increasing'
                     WHEN z < -1.96 THEN 'decreasing'
                     ELSE 'none' END AS trend
         FROM zz""",

    "x_ar2_forecast" ->
      """WITH m AS (
           SELECT o_orderpriority AS priority,
                  date_trunc('month', o_orderdate) AS mon,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM orders GROUP BY 1, 2),
         lagd AS (
           SELECT priority, y,
                  lag(y, 1) OVER win AS y1, lag(y, 2) OVER win AS y2,
                  row_number() OVER (PARTITION BY priority
                    ORDER BY mon DESC) AS rn
           FROM m
           WINDOW win AS (PARTITION BY priority ORDER BY mon)),
         st AS (
           SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(y * y) AS BIGINT) AS syy,
                  CAST(SUM(CASE WHEN y1 IS NOT NULL THEN y * y1
                    ELSE 0 END) AS BIGINT) AS sp1,
                  CAST(SUM(CASE WHEN y1 IS NOT NULL THEN y ELSE 0 END)
                    AS BIGINT) AS sa1,
                  CAST(SUM(CASE WHEN y1 IS NOT NULL THEN y1 ELSE 0 END)
                    AS BIGINT) AS sb1,
                  CAST(COUNT(y1) AS BIGINT) AS n1,
                  CAST(SUM(CASE WHEN y2 IS NOT NULL THEN y * y2
                    ELSE 0 END) AS BIGINT) AS sp2,
                  CAST(SUM(CASE WHEN y2 IS NOT NULL THEN y ELSE 0 END)
                    AS BIGINT) AS sa2,
                  CAST(SUM(CASE WHEN y2 IS NOT NULL THEN y2 ELSE 0 END)
                    AS BIGINT) AS sb2,
                  CAST(COUNT(y2) AS BIGINT) AS n2,
                  MAX(CASE WHEN rn = 1 THEN y END) AS ylast,
                  MAX(CASE WHEN rn = 2 THEN y END) AS yprev
           FROM lagd GROUP BY 1),
         ac AS (
           -- den = 0 (constant series) -> NULL stats, mirroring the
           -- engine's when(den > 0) guard
           SELECT priority, n, ylast, yprev,
                  CAST(sy AS DOUBLE) / n AS mu,
                  syy - (CAST(sy AS DOUBLE) / n) * sy AS den,
                  CASE WHEN syy - (CAST(sy AS DOUBLE) / n) * sy > 0 THEN
                    (sp1 - (CAST(sy AS DOUBLE) / n) * (sa1 + sb1)
                      + n1 * (CAST(sy AS DOUBLE) / n)
                        * (CAST(sy AS DOUBLE) / n))
                      / (syy - (CAST(sy AS DOUBLE) / n) * sy) END AS r1,
                  CASE WHEN syy - (CAST(sy AS DOUBLE) / n) * sy > 0 THEN
                    (sp2 - (CAST(sy AS DOUBLE) / n) * (sa2 + sb2)
                      + n2 * (CAST(sy AS DOUBLE) / n)
                        * (CAST(sy AS DOUBLE) / n))
                      / (syy - (CAST(sy AS DOUBLE) / n) * sy) END AS r2
           FROM st),
         ph AS (
           SELECT priority, n, ylast, yprev, mu, den, r1, r2,
                  CASE WHEN abs(1.0 - r1 * r1) > 1e-12
                    THEN r1 * (1.0 - r2) / (1.0 - r1 * r1) END AS phi1,
                  CASE WHEN abs(1.0 - r1 * r1) > 1e-12
                    THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi2
           FROM ac),
         fc AS (
           SELECT priority, n, mu, r1, r2, phi1, phi2, den, ylast,
                  mu + phi1 * (ylast - mu) + phi2 * (yprev - mu) AS f1
           FROM ph)
         SELECT priority, n AS n_months,
                floor(mu * 1e6 + 0.5) / 1e6 AS mean_monthly,
                floor(r1 * 1e6 + 0.5) / 1e6 AS acf_1,
                floor(r2 * 1e6 + 0.5) / 1e6 AS acf_2,
                floor(phi1 * 1e6 + 0.5) / 1e6 AS phi_1,
                floor(phi2 * 1e6 + 0.5) / 1e6 AS phi_2,
                floor((den / n) * (1.0 - phi1 * r1 - phi2 * r2)
                  * 1e4 + 0.5) / 1e4 AS sigma2,
                floor(f1 * 1e4 + 0.5) / 1e4 AS forecast_1,
                floor((mu + phi1 * (f1 - mu) + phi2 * (ylast - mu))
                  * 1e4 + 0.5) / 1e4 AS forecast_2
         FROM fc ORDER BY priority""",

    // ---- r19 wave ---------------------------------------------------------

    "x_jarque_bera" ->
      """WITH daily AS (
           SELECT o_orderpriority AS priority,
                  date_trunc('day', o_orderdate) AS dy,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM orders GROUP BY 1, 2),
         st AS (
           SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(CAST(y AS HUGEINT)) AS s1,
                  SUM(CAST(y AS HUGEINT) * y) AS s2,
                  SUM((CAST(y AS HUGEINT) * y) * y) AS s3,
                  SUM((CAST(y AS HUGEINT) * y) * (CAST(y AS HUGEINT) * y))
                    AS s4
           FROM daily GROUP BY 1),
         mo AS (
           SELECT priority, n, CAST(s1 AS DOUBLE) / n AS mean,
                  CAST(s2 AS DOUBLE) AS d2, CAST(s3 AS DOUBLE) AS d3,
                  CAST(s4 AS DOUBLE) AS d4, CAST(n AS DOUBLE) AS dn
           FROM st),
         cm AS (
           SELECT priority, n, dn, mean,
                  d2 / dn - mean * mean AS m2,
                  d3 / dn - 3.0 * mean * (d2 / dn)
                    + 2.0 * mean * mean * mean AS m3,
                  d4 / dn - 4.0 * mean * (d3 / dn)
                    + 6.0 * mean * mean * (d2 / dn)
                    - 3.0 * mean * mean * mean * mean AS m4
           FROM mo),
         sk AS (
           SELECT priority, n, dn, mean,
                  CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS skew,
                  CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurt
           FROM cm),
         jb AS (
           SELECT priority, n, mean, skew, kurt,
                  dn / 6.0 * (skew * skew
                    + (kurt - 3.0) * (kurt - 3.0) / 4.0) AS jb
           FROM sk)
         SELECT priority, n AS n_days,
                floor(mean * 1e4 + 0.5) / 1e4 AS mean_daily,
                floor(skew * 1e4 + 0.5) / 1e4 AS skewness,
                floor(kurt * 1e4 + 0.5) / 1e4 AS kurtosis,
                floor(jb * 1e4 + 0.5) / 1e4 AS jb_stat,
                jb > 5.991465 AS reject_normal_05
         FROM jb ORDER BY priority""",

    "x_dunn_posthoc" -> {
      val critCase =
        s"""CASE WHEN m = 1 THEN CAST(${dunnCritLit(1)} AS DOUBLE)
                 WHEN m = 3 THEN CAST(${dunnCritLit(3)} AS DOUBLE)
                 WHEN m = 6 THEN CAST(${dunnCritLit(6)} AS DOUBLE)
                 WHEN m = 10 THEN CAST(${dunnCritLit(10)} AS DOUBLE)
                 WHEN m = 15 THEN CAST(${dunnCritLit(15)} AS DOUBLE)
            END"""
      s"""WITH hist AS MATERIALIZED (
           SELECT o_orderpriority AS grp,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS qv,
                  COUNT(*) AS c
           FROM orders GROUP BY 1, 2),
         vt AS MATERIALIZED (
           SELECT qv, CAST(SUM(c) AS BIGINT) AS t
           FROM hist GROUP BY 1),
         vts AS (
           SELECT qv, t,
                  COALESCE(SUM(t) OVER (ORDER BY qv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS s0
           FROM vt),
         gsum AS MATERIALIZED (
           SELECT h.grp, CAST(SUM(h.c) AS BIGINT) AS ng,
                  SUM(CAST(h.c * (2 * v.s0 + v.t + 1) AS HUGEINT))
                    AS r2g
           FROM hist h JOIN vts v USING (qv)
           GROUP BY 1),
         ties AS (
           SELECT SUM(CAST(t * t * t - t AS HUGEINT)) AS st3 FROM vt),
         tot AS (
           SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS nn,
                  CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS m
           FROM gsum),
         prs AS (
           SELECT a.grp AS grp_a, b.grp AS grp_b,
                  a.ng AS na, b.ng AS nb,
                  a.r2g AS r2a, b.r2g AS r2b,
                  t.k, t.nn, t.m, s.st3
           FROM gsum a JOIN gsum b ON a.grp < b.grp
           CROSS JOIN tot t CROSS JOIN ties s),
         zz AS (
           SELECT grp_a, grp_b, na, nb, k, m,
                  CAST(nn AS DOUBLE) * (nn + 1) / 12.0
                    - CAST(st3 AS DOUBLE) / (12.0 * (nn - 1)) AS varbase,
                  CAST(r2a AS DOUBLE) / (2.0 * na) AS ra,
                  CAST(r2b AS DOUBLE) / (2.0 * nb) AS rb
           FROM prs),
         fin AS (
           SELECT grp_a, grp_b, na, nb, k, m, varbase, ra, rb,
                  CASE WHEN varbase > 0 THEN (ra - rb) / sqrt(varbase
                    * (1.0 / na + 1.0 / nb)) END AS z,
                  $critCase AS crit
           FROM zz)
         SELECT grp_a, grp_b, na AS n_a, nb AS n_b,
                floor(ra * 1e6 + 0.5) / 1e6 AS mean_rank_a,
                floor(rb * 1e6 + 0.5) / 1e6 AS mean_rank_b,
                floor(varbase * 1e2 + 0.5) / 1e2 AS var_base,
                floor(z * 1e4 + 0.5) / 1e4 AS z_stat,
                k AS n_groups, m AS n_pairs,
                floor(crit * 1e6 + 0.5) / 1e6 AS crit_bonf,
                abs(z) > crit AS significant
         FROM fin ORDER BY grp_a, grp_b"""
    },

    "x_pettitt_test" ->
      """WITH dailyp AS MATERIALIZED (
           SELECT o_orderpriority AS series,
                  date_trunc('day', o_orderdate) AS dy,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM orders GROUP BY 1, 2),
         daily AS MATERIALIZED (
           SELECT series, dy, y FROM dailyp
           UNION ALL
           SELECT 'ALL' AS series, dy, CAST(SUM(y) AS BIGINT) AS y
           FROM dailyp GROUP BY 2),
         vt AS (
           SELECT series, y, CAST(COUNT(*) AS BIGINT) AS t
           FROM daily GROUP BY 1, 2),
         vts AS (
           SELECT series, y, t,
                  COALESCE(SUM(t) OVER (PARTITION BY series ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS s0
           FROM vt),
         nn AS (
           SELECT series, CAST(COUNT(*) AS BIGINT) AS n
           FROM daily GROUP BY 1),
         cum AS (
           SELECT d.series, d.dy,
                  SUM(2 * v.s0 + v.t + 1) OVER (PARTITION BY d.series
                    ORDER BY d.dy
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS su2,
                  CAST(row_number() OVER (PARTITION BY d.series
                    ORDER BY d.dy) AS BIGINT) AS rn
           FROM daily d JOIN vts v
             ON v.series = d.series AND v.y = d.y),
         uu AS (
           SELECT c.series, c.dy, n.n,
                  abs(c.su2 - c.rn * (n.n + 1)) AS au
           FROM cum c JOIN nn n ON n.series = c.series
           WHERE c.rn < n.n),
         pick AS (
           SELECT series, dy, n, au,
                  row_number() OVER (PARTITION BY series
                    ORDER BY au DESC, dy ASC) AS pk
           FROM uu),
         fin AS (
           SELECT series, n, au, dy,
                  CASE WHEN n > 1 THEN least(1.0,
                    2.0 * exp(-6.0 * CAST(au AS DOUBLE) * au
                      / CAST(n * n * n + n * n AS DOUBLE)))
                  END AS p
           FROM pick WHERE pk = 1)
         SELECT series, n AS n_days, CAST(au AS BIGINT) AS k_stat,
                strftime(dy, '%Y-%m-%d') AS change_day,
                floor(p * 1e4 + 0.5) / 1e4 AS p_value,
                p < 0.05 AS significant_05
         FROM fin ORDER BY series""",

    "x_damped_trend_forecast" -> {
      val num = brownNumSql("y", dampedWLit)
      val den = brownDenSql("y", dampedQW)
      val phi = graft.util.Num.lit17(DampPhi)
      s"""WITH daily AS (
            SELECT o_orderpriority AS priority,
                   date_trunc('day', o_orderdate) AS dy,
                   COUNT(*) AS y
            FROM orders GROUP BY 1, 2),
          lad AS (
            SELECT priority, dy, y,
                   $num AS nq, $den AS dq
            FROM daily
            WINDOW win AS (PARTITION BY priority ORDER BY dy)),
          fc AS (
            SELECT priority, dy, y,
                   CAST(nq AS DOUBLE) / CAST(dq AS DOUBLE) AS f
            FROM lad WHERE dq > 0),
          rr AS (
            SELECT priority, dy, y, f, y - f AS resid FROM fc)
          SELECT priority, strftime(dy, '%Y-%m-%d') AS day, y,
                 floor(CAST($phi AS DOUBLE) * 1e2 + 0.5) / 1e2 AS phi,
                 floor(f * 1e6 + 0.5) / 1e6 AS forecast,
                 floor(resid * 1e6 + 0.5) / 1e6 AS resid
          FROM rr
          ORDER BY CAST(floor(abs(resid) * 1e6 + 0.5) AS BIGINT) DESC,
                   priority, dy
          LIMIT 10"""
    },

    "x_snht_changepoint" ->
      s"""WITH $dailyCumSql,
         zz AS (
           SELECT dy, n, mean,
                  skv / sd / rn AS z1,
                  (CAST(sy - cumy AS DOUBLE)
                    - (n - rn) * mean) / sd / (n - rn) AS z2,
                  rn
           FROM cum WHERE rn < n),
         tt AS (
           SELECT dy, n, mean,
                  rn * z1 * z1 + (n - rn) * z2 * z2 AS tstat
           FROM zz),
         pick AS (
           SELECT dy, n, mean, tstat,
                  row_number() OVER (ORDER BY
                    CAST(floor(tstat * 1e6 + 0.5) AS BIGINT) DESC,
                    dy ASC) AS pk
           FROM tt)
         SELECT n AS n_days,
                floor(mean * 1e4 + 0.5) / 1e4 AS mean_daily,
                floor(tstat * 1e4 + 0.5) / 1e4 AS t_stat,
                strftime(dy, '%Y-%m-%d') AS change_day
         FROM pick WHERE pk = 1""",

    "x_buishand_range" -> {
      val ladder = (1 to 10).map { k =>
        s"""CAST(floor((4.0 * ${k * k} * x * x - 1.0)
             * exp(-2.0 * ${k * k} * x * x) * 1e12 + 0.5) AS BIGINT)"""
      }.mkString(" + ")
      s"""WITH $dailyCumSql,
         ext AS (SELECT max(skv) AS smax, min(skv) AS smin FROM cum),
         $skPickSql,
         xx AS (
           SELECT p.dy, p.n, p.mean,
                  (e.smax - e.smin) / p.sd
                    / sqrt(CAST(p.n AS DOUBLE)) AS x
           FROM skpick p CROSS JOIN ext e),
         pp AS (
           SELECT dy, n, mean, x,
                  CASE WHEN x < 0.3 THEN 1.0
                       ELSE least(1.0,
                         2.0 * (CAST($ladder AS DOUBLE) / 1e12))
                  END AS p
           FROM xx)
         SELECT n AS n_days,
                floor(mean * 1e4 + 0.5) / 1e4 AS mean_daily,
                floor(x * 1e4 + 0.5) / 1e4 AS r_over_sqrt_n,
                strftime(dy, '%Y-%m-%d') AS change_day,
                floor(p * 1e4 + 0.5) / 1e4 AS p_value,
                p < 0.05 AS significant_05
         FROM pp"""
    },

    "x_kpss_test" -> {
      val QMax = 12
      val lagTerms = (1 to QMax).map { j =>
        s"""CASE WHEN $j <= q AND lag(e, $j) OVER win IS NOT NULL
             THEN CAST(floor(e * lag(e, $j) OVER win * 1e6 + 0.5)
                  AS HUGEINT)
             ELSE CAST(0 AS HUGEINT) END AS t$j"""
      }.mkString(",\n")
      val gammas = (1 to QMax).map(j => s"SUM(t$j) AS g$j")
        .mkString(",\n")
      val lrTerms = (1 to QMax).map { j =>
        s"""CASE WHEN $j <= q
             THEN 2.0 * (1.0 - CAST($j AS DOUBLE) / (q + 1))
                  * (CAST(g$j AS DOUBLE) / 1e6 / n)
             ELSE 0.0 END"""
      }.mkString(" + ")
      s"""WITH daily AS (
           SELECT date_trunc('day', o_orderdate) AS dy,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM orders GROUP BY 1),
         st AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(y) AS BIGINT) AS sy
           FROM daily),
         st1 AS (
           SELECT n, CAST(sy AS DOUBLE) / n AS mean,
                  CAST(floor(4.0 * sqrt(sqrt(CAST(n AS DOUBLE) / 100.0)))
                    AS BIGINT) AS q
           FROM st),
         base AS (
           SELECT d.dy, s.n, s.q,
                  CAST(d.y AS DOUBLE) - s.mean AS e,
                  CAST(CAST(SUM(d.y) OVER (ORDER BY d.dy
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS DOUBLE)
                    - CAST(row_number() OVER (ORDER BY d.dy) AS BIGINT)
                      * s.mean AS sk
           FROM daily d CROSS JOIN st1 s),
         lad AS (
           SELECT n, q, e, sk,
                  $lagTerms
           FROM base
           WINDOW win AS (ORDER BY dy)),
         agg AS (
           SELECT n, q,
                  SUM(CAST(floor(e * e * 1e6 + 0.5) AS HUGEINT)) AS g0,
                  SUM(CAST(floor(sk * sk * 1e6 + 0.5) AS HUGEINT))
                    AS ss2,
                  $gammas
           FROM lad
           GROUP BY 1, 2),
         lr AS (
           SELECT n, q,
                  CASE WHEN q <= $QMax
                    THEN CAST(g0 AS DOUBLE) / 1e6 / n + $lrTerms
                  END AS s2lr,
                  CAST(ss2 AS DOUBLE) / 1e6 AS ssd
           FROM agg),
         fin AS (
           SELECT n, q, s2lr,
                  CASE WHEN q <= $QMax AND s2lr > 0
                    THEN ssd / (CAST(n AS DOUBLE) * n * s2lr) END AS eta
           FROM lr)
         SELECT n AS n_days, q AS q_lags,
                floor(s2lr * 1e4 + 0.5) / 1e4 AS s2_longrun,
                floor(eta * 1e6 + 0.5) / 1e6 AS eta_stat,
                eta <= 0.463 AS level_stationary_05
         FROM fin"""
    },

    "x_fligner_killeen" -> {
      val aSql = invNormSql("p")
      s"""WITH hist AS MATERIALIZED (
           SELECT o_orderpriority AS grp,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS qv,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM orders GROUP BY 1, 2),
         counts AS (
           SELECT grp, CAST(SUM(c) AS BIGINT) AS ng
           FROM hist GROUP BY 1),
         med AS (
           SELECT grp, min(qv) AS med FROM (
             SELECT h.grp, h.qv,
                    SUM(h.c) OVER (PARTITION BY h.grp ORDER BY h.qv
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cum,
                    n.ng
             FROM hist h JOIN counts n USING (grp))
           WHERE cum >= (ng + 1) // 2
           GROUP BY 1),
         dev AS MATERIALIZED (
           SELECT h.grp, abs(h.qv - m.med) AS dv,
                  CAST(SUM(h.c) AS BIGINT) AS c
           FROM hist h JOIN med m USING (grp)
           GROUP BY 1, 2),
         vt AS (
           SELECT dv, CAST(SUM(c) AS BIGINT) AS t
           FROM dev GROUP BY 1),
         nn AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM dev),
         ranked AS (
           SELECT v.dv,
                  0.5 + CAST(2 * COALESCE(SUM(v.t) OVER (ORDER BY v.dv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + v.t + 1 AS DOUBLE)
                    / (4.0 * (x.nn + 1)) AS p
           FROM vt v CROSS JOIN nn x),
         scored AS (
           SELECT dv, CAST(floor(($aSql) * 1e9 + 0.5) AS BIGINT) AS qa
           FROM ranked),
         gsum AS (
           SELECT d.grp, CAST(SUM(d.c) AS BIGINT) AS ng,
                  SUM(CAST(d.c AS HUGEINT) * s.qa) AS sa,
                  SUM(CAST(d.c AS HUGEINT) * s.qa * s.qa) AS saa
           FROM dev d JOIN scored s USING (dv)
           GROUP BY 1),
         tot AS (
           SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS nt,
                  SUM(sa) AS sat, SUM(saa) AS saat
           FROM gsum),
         tot2 AS (
           SELECT k, nt,
                  CAST(sat AS DOUBLE) / 1e9 / nt AS abar,
                  CASE WHEN nt > 1 THEN
                  (CAST(saat AS DOUBLE) / 1e18
                    - nt * (CAST(sat AS DOUBLE) / 1e9 / nt)
                      * (CAST(sat AS DOUBLE) / 1e9 / nt)) / (nt - 1)
                    END AS vv
           FROM tot),
         terms AS (
           SELECT t.k, t.nt, t.vv,
                  SUM(CAST(floor(g.ng * (CAST(g.sa AS DOUBLE) / 1e9
                        / g.ng - t.abar)
                      * (CAST(g.sa AS DOUBLE) / 1e9 / g.ng - t.abar)
                      * 1e6 + 0.5) AS HUGEINT)) AS qsum
           FROM gsum g CROSS JOIN tot2 t
           GROUP BY 1, 2, 3),
         fin AS (
           SELECT k, nt, CASE WHEN vv > 0
             THEN (CAST(qsum AS DOUBLE) / 1e6) / vv END AS fk
           FROM terms)
         SELECT k AS n_groups, nt AS n_obs,
                floor(fk * 1e4 + 0.5) / 1e4 AS fk_stat,
                fk > 9.488 AS reject_05
         FROM fin""".stripMargin
    },

    "x_cramers_v" ->
      """WITH tab AS MATERIALIZED (
           SELECT o_orderpriority AS r, o_orderstatus AS cc,
                  CAST(COUNT(*) AS BIGINT) AS o
           FROM orders GROUP BY 1, 2),
         rm AS (SELECT r, CAST(SUM(o) AS BIGINT) AS nr
                FROM tab GROUP BY 1),
         cm AS (SELECT cc, CAST(SUM(o) AS BIGINT) AS nc
                FROM tab GROUP BY 1),
         ntot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM tab),
         grid AS (
           SELECT x.n,
                  SUM(CAST(floor((COALESCE(t.o, 0) - CAST(rm.nr AS DOUBLE)
                        * cm.nc / x.n)
                      * (COALESCE(t.o, 0) - CAST(rm.nr AS DOUBLE)
                        * cm.nc / x.n)
                      / (CAST(rm.nr AS DOUBLE) * cm.nc / x.n)
                      * 1e6 + 0.5) AS HUGEINT)) AS qchi
           FROM rm CROSS JOIN cm CROSS JOIN ntot x
           LEFT JOIN tab t ON t.r = rm.r AND t.cc = cm.cc
           GROUP BY 1),
         shape AS (
           SELECT (SELECT COUNT(*) FROM rm) AS rr,
                  (SELECT COUNT(*) FROM cm) AS kk),
         fin AS (
           SELECT g.n, s.rr, s.kk,
                  (s.rr - 1) * (s.kk - 1) AS df,
                  CAST(g.qchi AS DOUBLE) / 1e6 AS chi2
           FROM grid g CROSS JOIN shape s),
         fin2 AS (
           SELECT n, rr, kk, df, chi2,
                  CASE WHEN least(rr, kk) > 1
                    THEN sqrt(chi2 / (n * (least(rr, kk) - 1))) END AS v,
                  CASE WHEN n > 1 THEN greatest(0.0, chi2 / n
                    - CAST(rr - 1 AS DOUBLE) * (kk - 1) / (n - 1))
                    END AS phi2c,
                  CASE WHEN n > 1 THEN CAST(rr AS DOUBLE)
                    - CAST(rr - 1 AS DOUBLE) * (rr - 1) / (n - 1)
                    END AS rc,
                  CASE WHEN n > 1 THEN CAST(kk AS DOUBLE)
                    - CAST(kk - 1 AS DOUBLE) * (kk - 1) / (n - 1)
                    END AS kc
           FROM fin)
         SELECT n AS n_obs, rr AS n_rows, kk AS n_cols, df,
                floor(chi2 * 1e4 + 0.5) / 1e4 AS chi2,
                floor(v * 1e6 + 0.5) / 1e6 AS cramers_v,
                floor(CASE WHEN least(rc - 1, kc - 1) > 0
                    THEN sqrt(phi2c / least(rc - 1, kc - 1)) END
                  * 1e6 + 0.5) / 1e6 AS cramers_v_corrected,
                CASE WHEN df = 8 THEN chi2 > 15.507 END AS dependent_05
         FROM fin2""",

    "x_theta_forecast" -> {
      val num = (0 until EwmaLags).map { i =>
        val lg = if (i == 0) "qq" else s"lag(qq, $i) OVER win"
        s"""CASE WHEN $lg IS NOT NULL
            THEN CAST(floor($lg * CAST(${ewmaWLit(i)} AS DOUBLE)
                 * 1e9 + 0.5) AS BIGINT)
            ELSE 0 END"""
      }.mkString(" + ")
      val den = (0 until EwmaLags).map { i =>
        val lg = if (i == 0) "qq" else s"lag(qq, $i) OVER win"
        s"""CASE WHEN $lg IS NOT NULL
            THEN CAST(${ewmaQW(i)} AS BIGINT) ELSE CAST(0 AS BIGINT)
            END"""
      }.mkString(" + ")
      s"""WITH monthly AS MATERIALIZED (
            SELECT mth, r,
                   CAST(row_number() OVER (ORDER BY mth) AS BIGINT)
                     AS rn,
                   CAST(floor(r * 1e6 + 0.5) AS BIGINT) AS qy
            FROM ($monthlyRevMilSql)),
          ols0 AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(rn) AS BIGINT) AS sx,
                   SUM(CAST(qy AS HUGEINT)) AS sy,
                   SUM(CAST(rn * qy AS HUGEINT)) AS sxy,
                   CAST(SUM(rn * rn) AS BIGINT) AS sxx
            FROM monthly),
          ols1 AS (
            SELECT n, sx,
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * sxx
                       - CAST(sx AS DOUBLE) * sx) / 1e6 AS b,
                   CAST(sy AS DOUBLE) AS syd
            FROM ols0),
          ols AS (
            SELECT n, b, (syd / 1e6 - b * sx) / n AS a FROM ols1),
          theta AS (
            SELECT m.mth, m.rn, m.r, o.n, o.a, o.b,
                   2.0 * m.r - (o.a + o.b * m.rn) AS qq
            FROM monthly m CROSS JOIN ols o),
          lad AS (
            SELECT mth, rn, r, n, a, b, qq,
                   $num AS nq, $den AS dq
            FROM theta
            WINDOW win AS (ORDER BY mth)),
          fin AS (
            SELECT n, a, b, r,
                   CAST(nq AS DOUBLE) / CAST(dq AS DOUBLE) AS ses,
                   a + b * (n + 1) AS trendnext
            FROM lad WHERE rn = n AND dq > 0)
          SELECT n AS n_months,
                 floor(a * 1e4 + 0.5) / 1e4 AS trend_intercept,
                 floor(b * 1e6 + 0.5) / 1e6 AS trend_slope,
                 floor(r * 1e4 + 0.5) / 1e4 AS last_actual_mil,
                 floor(ses * 1e4 + 0.5) / 1e4 AS ses_theta2,
                 floor(trendnext * 1e4 + 0.5) / 1e4 AS trend_next,
                 floor(0.5 * (ses + trendnext) * 1e4 + 0.5) / 1e4
                   AS theta_forecast
          FROM fin"""
    },

    "x_durbin_watson" -> s"""
      WITH $dailyTrendSql,
         res AS (
           SELECT r.day, o.n, o.b,
                  CAST(r.y AS DOUBLE) - o.a - o.b * r.rn AS e
           FROM rn0 r CROSS JOIN ols o),
         lagd AS (
           SELECT n, b, e, lag(e, 1) OVER (ORDER BY day) AS el
           FROM res),
         agg AS (
           SELECT n, b,
                  SUM(CASE WHEN el IS NOT NULL
                    THEN CAST(floor((e - el) * (e - el) * 1e6 + 0.5)
                         AS HUGEINT)
                    ELSE CAST(0 AS HUGEINT) END) AS qnum,
                  SUM(CAST(floor(e * e * 1e6 + 0.5) AS HUGEINT))
                    AS qden
           FROM lagd GROUP BY 1, 2),
         fin AS (
           SELECT n, b, CASE WHEN qden > 0
             THEN CAST(qnum AS DOUBLE) / CAST(qden AS DOUBLE) END AS dw
           FROM agg)
         SELECT n AS n_days,
                floor(b * 1e6 + 0.5) / 1e6 AS trend_slope,
                floor(dw * 1e4 + 0.5) / 1e4 AS dw_stat,
                abs(dw - 2.0) > 0.5 AS autocorr_suspect
         FROM fin""",

    "x_breusch_pagan" -> s"""
      WITH $dailyTrendSql,
         q2 AS (
           SELECT r.rn, o.n, o.sx, o.sxx,
                  CAST(floor((CAST(r.y AS DOUBLE) - o.a - o.b * r.rn)
                    * (CAST(r.y AS DOUBLE) - o.a - o.b * r.rn)
                    * 1e6 + 0.5) AS BIGINT) AS q
           FROM rn0 r CROSS JOIN ols o),
         agg AS (
           SELECT n, sx, sxx,
                  SUM(CAST(q AS HUGEINT)) AS sq,
                  SUM(CAST(rn AS HUGEINT) * q) AS sxq,
                  SUM(CAST(q AS HUGEINT) * q) AS sqq
           FROM q2 GROUP BY 1, 2, 3),
         lm AS (
           SELECT n,
                  CAST(n AS DOUBLE) * CAST(sxq AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sq AS DOUBLE) AS covn,
                  CAST(n AS DOUBLE) * sxx
                    - CAST(sx AS DOUBLE) * sx AS vx,
                  CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                    - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) AS vq
           FROM agg),
         fin AS (
           SELECT n, CASE WHEN vq > 0
             THEN n * (covn * covn / (vx * vq)) END AS lmstat
           FROM lm)
         SELECT n AS n_days,
                floor(lmstat * 1e4 + 0.5) / 1e4 AS lm_stat,
                lmstat > 3.841 AS heteroskedastic_05
         FROM fin""",

    "x_chow_test" -> {
      def segSql(cond: String, tag: String) =
        s"""CAST(SUM(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)
              AS m$tag,
            CAST(SUM(CASE WHEN $cond THEN rn ELSE 0 END) AS BIGINT)
              AS sx$tag,
            CAST(SUM(CASE WHEN $cond THEN y ELSE 0 END) AS BIGINT)
              AS sy$tag,
            SUM(CASE WHEN $cond THEN CAST(rn * y AS HUGEINT)
                ELSE CAST(0 AS HUGEINT) END) AS sxy$tag,
            CAST(SUM(CASE WHEN $cond THEN rn * rn ELSE 0 END)
              AS BIGINT) AS sxx$tag,
            SUM(CASE WHEN $cond THEN CAST(y * y AS HUGEINT)
                ELSE CAST(0 AS HUGEINT) END) AS syy$tag"""
      def ssrSql(tag: String) =
        s"""CASE WHEN (CAST(sxx$tag AS DOUBLE)
                 - CAST(sx$tag AS DOUBLE) * sx$tag / m$tag) > 0 THEN
            (CAST(syy$tag AS DOUBLE)
             - CAST(sy$tag AS DOUBLE) * sy$tag / m$tag)
            - (CAST(sxy$tag AS DOUBLE)
               - CAST(sx$tag AS DOUBLE) * sy$tag / m$tag)
              * (CAST(sxy$tag AS DOUBLE)
                 - CAST(sx$tag AS DOUBLE) * sy$tag / m$tag)
              / (CAST(sxx$tag AS DOUBLE)
                 - CAST(sx$tag AS DOUBLE) * sx$tag / m$tag)
            END"""
      s"""WITH $dailyCumSql,
         $skPickSql,
         pick AS (SELECT rn AS cutrn, dy AS cutday FROM skpick),
         sums AS (
           SELECT r.n, p.cutday,
                  ${segSql("TRUE", "p")},
                  ${segSql("r.rn <= p.cutrn", "1")},
                  ${segSql("r.rn > p.cutrn", "2")}
           FROM cum r CROSS JOIN pick p
           GROUP BY 1, 2),
         ssrs AS (
           SELECT n, cutday, m1, m2,
                  ${ssrSql("p")} AS ssrp,
                  ${ssrSql("1")} AS ssr1,
                  ${ssrSql("2")} AS ssr2
           FROM sums),
         fin AS (
           SELECT n, cutday, m1, m2, ssrp, ssr1, ssr2,
                  CASE WHEN m1 > 2 AND m2 > 2 AND ssr1 + ssr2 > 0
                    THEN ((ssrp - ssr1 - ssr2) / 2.0)
                      / ((ssr1 + ssr2) / (n - 4)) END AS f
           FROM ssrs)
         SELECT n AS n_days, strftime(cutday, '%Y-%m-%d') AS cut_day,
                m1 AS n_seg1, m2 AS n_seg2,
                floor(ssrp * 1e2 + 0.5) / 1e2 AS ssr_pooled,
                floor((ssr1 + ssr2) * 1e2 + 0.5) / 1e2 AS ssr_split,
                floor(f * 1e4 + 0.5) / 1e4 AS f_stat,
                f > 2.9957 AS break_05
         FROM fin"""
    },

    "x_friedman_aligned" ->
      s"""WITH $revCellsSql,
         $completeBlockSql,
         aligned AS MATERIALIZED (
           SELECT blk, trt, k,
                  CAST(floor((CAST(rev AS DOUBLE)
                    - CAST(SUM(rev) OVER (PARTITION BY blk) AS DOUBLE)
                      / k) * 1e4 + 0.5) AS BIGINT) AS av
           FROM full_b),
         vt AS (
           SELECT av, CAST(COUNT(*) AS BIGINT) AS t
           FROM aligned GROUP BY 1),
         vts AS (
           SELECT av,
                  2 * COALESCE(SUM(t) OVER (ORDER BY av
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + t + 1 AS r2
           FROM vt),
         withr AS (
           SELECT a.blk, a.trt, v.r2
           FROM aligned a JOIN vts v USING (av)),
         tsum AS (
           SELECT trt, SUM(CAST(r2 AS HUGEINT)) AS r2j
           FROM withr GROUP BY 1),
         bsum AS (
           SELECT blk, SUM(CAST(r2 AS HUGEINT)) AS r2i
           FROM withr GROUP BY 1),
         shape AS (
           SELECT CAST(MAX(k) AS BIGINT) AS k,
                  CAST(COUNT(DISTINCT blk) AS BIGINT) AS nb
           FROM aligned),
         tagg AS (SELECT SUM(r2j * r2j) AS sj2 FROM tsum),
         bagg AS (SELECT SUM(r2i * r2i) AS si2 FROM bsum),
         fin AS (
           SELECT s.nb, s.k, s.k * s.nb AS kb,
                  CAST(s.k - 1 AS DOUBLE)
                    * (CAST(t.sj2 AS DOUBLE) / 4.0
                      - CAST(s.k AS DOUBLE) * s.nb * s.nb
                        * (s.k * s.nb + 1) * (s.k * s.nb + 1) / 4.0)
                    AS num,
                  CAST(s.k * s.nb AS DOUBLE) * (s.k * s.nb + 1)
                    * (2 * s.k * s.nb + 1) / 6.0
                    - (CAST(b.si2 AS DOUBLE) / 4.0) / s.k AS den
           FROM shape s CROSS JOIN tagg t CROSS JOIN bagg b),
         fin2 AS (
           SELECT nb, k,
                  CASE WHEN den > 0 THEN num / den END AS tstat
           FROM fin)
         SELECT nb AS n_blocks, k AS k_treatments,
                floor(tstat * 1e4 + 0.5) / 1e4 AS t_stat,
                tstat > 9.488 AS reject_05
         FROM fin2""",

    "x_granger_causality" -> {
      // the two cramer3 instantiations mirror the engine's operand
      // mapping exactly (direction rev: x1 = rl, x2 = cl; direction
      // cnt: x1 = cl, x2 = rl)
      val (dRev, daRev, dbRev, dcRev) = cramer3Sql("md", "srld", "scld",
        "srlrld", "sclrld", "sclcld", "srd", "srrld", "srcld")
      val (dCnt, daCnt, dbCnt, dcCnt) = cramer3Sql("md", "scld", "srld",
        "sclcld", "sclrld", "srlrld", "scd", "sccld", "scrld")
      s"""WITH $dailyCntRevMilSql,
         lagged AS MATERIALIZED (
           SELECT day, cnt, revm,
                  lag(cnt, 1) OVER (ORDER BY day) AS cl,
                  lag(revm, 1) OVER (ORDER BY day) AS rl
           FROM dcr
           QUALIFY cl IS NOT NULL),
         sums AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS m,
                  CAST(SUM(cl) AS BIGINT) AS scl,
                  SUM(CAST(floor(rl * 1e9 + 0.5) AS HUGEINT)) AS srlq,
                  CAST(SUM(cl * cl) AS BIGINT) AS sclcl,
                  SUM(CAST(floor(rl * rl * 1e9 + 0.5) AS HUGEINT))
                    AS srlrlq,
                  SUM(CAST(floor(cl * rl * 1e9 + 0.5) AS HUGEINT))
                    AS sclrlq,
                  CAST(SUM(cnt) AS BIGINT) AS sc,
                  SUM(CAST(floor(revm * 1e9 + 0.5) AS HUGEINT)) AS srq,
                  CAST(SUM(cnt * cl) AS BIGINT) AS sccl,
                  SUM(CAST(floor(cnt * rl * 1e9 + 0.5) AS HUGEINT))
                    AS scrlq,
                  SUM(CAST(floor(revm * cl * 1e9 + 0.5) AS HUGEINT))
                    AS srclq,
                  SUM(CAST(floor(revm * rl * 1e9 + 0.5) AS HUGEINT))
                    AS srrlq
           FROM lagged),
         dbls AS (
           SELECT m, CAST(m AS DOUBLE) AS md,
                  CAST(scl AS DOUBLE) AS scld,
                  CAST(srlq AS DOUBLE) / 1e9 AS srld,
                  CAST(sclcl AS DOUBLE) AS sclcld,
                  CAST(srlrlq AS DOUBLE) / 1e9 AS srlrld,
                  CAST(sclrlq AS DOUBLE) / 1e9 AS sclrld,
                  CAST(sc AS DOUBLE) AS scd,
                  CAST(srq AS DOUBLE) / 1e9 AS srd,
                  CAST(sccl AS DOUBLE) AS sccld,
                  CAST(scrlq AS DOUBLE) / 1e9 AS scrld,
                  CAST(srclq AS DOUBLE) / 1e9 AS srcld,
                  CAST(srrlq AS DOUBLE) / 1e9 AS srrld
           FROM sums),
         solve0 AS (
           SELECT *,
                  $dRev AS d_rev, $daRev AS da_rev,
                  $dbRev AS db_rev, $dcRev AS dc_rev,
                  $dCnt AS d_cnt, $daCnt AS da_cnt,
                  $dbCnt AS db_cnt, $dcCnt AS dc_cnt
           FROM dbls),
         solve AS (
           SELECT *,
                  CASE WHEN d_rev > 0 THEN da_rev / d_rev END AS a_rev,
                  CASE WHEN d_rev > 0 THEN db_rev / d_rev END AS b_rev,
                  CASE WHEN d_rev > 0 THEN dc_rev / d_rev END AS c_rev,
                  CASE WHEN d_cnt > 0 THEN da_cnt / d_cnt END AS a_cnt,
                  CASE WHEN d_cnt > 0 THEN db_cnt / d_cnt END AS b_cnt,
                  CASE WHEN d_cnt > 0 THEN dc_cnt / d_cnt END AS c_cnt,
                  md * srlrld - srld * srld AS denr,
                  md * sclcld - scld * scld AS denc
           FROM solve0),
         restr0 AS (
           SELECT *,
                  CASE WHEN denr > 0
                    THEN (md * srrld - srld * srd) / denr END AS br_rev,
                  CASE WHEN denc > 0
                    THEN (md * sccld - scld * scd) / denc END AS br_cnt
           FROM solve),
         restr AS (
           SELECT *, (srd - br_rev * srld) / md AS ar_rev,
                  (scd - br_cnt * scld) / md AS ar_cnt
           FROM restr0),
         ssr AS (
           SELECT r.m, r.b_rev, r.c_rev, r.b_cnt, r.c_cnt,
                  SUM(CAST(floor((l.revm - r.a_rev - r.b_rev * l.rl
                    - r.c_rev * l.cl) * (l.revm - r.a_rev
                    - r.b_rev * l.rl - r.c_rev * l.cl) * 1e9 + 0.5)
                    AS HUGEINT)) AS ssruqr,
                  SUM(CAST(floor((l.revm - r.ar_rev - r.br_rev * l.rl)
                    * (l.revm - r.ar_rev - r.br_rev * l.rl) * 1e9 + 0.5)
                    AS HUGEINT)) AS ssrrqr,
                  SUM(CAST(floor((l.cnt - r.a_cnt - r.b_cnt * l.cl
                    - r.c_cnt * l.rl) * (l.cnt - r.a_cnt
                    - r.b_cnt * l.cl - r.c_cnt * l.rl) * 1e9 + 0.5)
                    AS HUGEINT)) AS ssruqc,
                  SUM(CAST(floor((l.cnt - r.ar_cnt - r.br_cnt * l.cl)
                    * (l.cnt - r.ar_cnt - r.br_cnt * l.cl) * 1e9 + 0.5)
                    AS HUGEINT)) AS ssrrqc
           FROM lagged l CROSS JOIN restr r
           GROUP BY 1, 2, 3, 4, 5),
         fin AS (
           SELECT m, b_rev, c_rev, b_cnt, c_cnt,
                  CAST(ssruqr AS DOUBLE) / 1e9 AS ssrur,
                  CAST(ssrrqr AS DOUBLE) / 1e9 AS ssrrr,
                  CAST(ssruqc AS DOUBLE) / 1e9 AS ssruc,
                  CAST(ssrrqc AS DOUBLE) / 1e9 AS ssrrc
           FROM ssr),
         fin2 AS (
           SELECT *,
                  CASE WHEN ssrur > 0 AND m > 3
                    THEN (ssrrr - ssrur)
                      / (ssrur / (CAST(m AS DOUBLE) - 3)) END AS f_rev,
                  CASE WHEN ssruc > 0 AND m > 3
                    THEN (ssrrc - ssruc)
                      / (ssruc / (CAST(m AS DOUBLE) - 3)) END AS f_cnt
           FROM fin)
         SELECT * FROM (
           SELECT 'count->revenue' AS direction, m AS n_scored,
                  floor(ssrrr * 1e6 + 0.5) / 1e6 AS ssr_restricted,
                  floor(ssrur * 1e6 + 0.5) / 1e6 AS ssr_unrestricted,
                  floor(b_rev * 1e6 + 0.5) / 1e6 AS own_lag_b,
                  floor(c_rev * 1e6 + 0.5) / 1e6 AS cross_lag_b,
                  floor(f_rev * 1e4 + 0.5) / 1e4 AS f_stat,
                  f_rev > 3.841 AS causal_05
           FROM fin2
           UNION ALL
           SELECT 'revenue->count' AS direction, m AS n_scored,
                  floor(ssrrc * 1e6 + 0.5) / 1e6 AS ssr_restricted,
                  floor(ssruc * 1e6 + 0.5) / 1e6 AS ssr_unrestricted,
                  floor(b_cnt * 1e6 + 0.5) / 1e6 AS own_lag_b,
                  floor(c_cnt * 1e6 + 0.5) / 1e6 AS cross_lag_b,
                  floor(f_cnt * 1e4 + 0.5) / 1e4 AS f_stat,
                  f_cnt > 3.841 AS causal_05
           FROM fin2)
         ORDER BY direction"""
    },

    "x_dickey_fuller" -> {
      val (dD, daD, dbD, dcD) = cramer3Sql("md", "s1d", "s2d", "s11d",
        "s12d", "s22d", "syd", "s1yd", "s2yd")
      s"""WITH daily AS MATERIALIZED (
           SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM orders GROUP BY 1),
         rn0 AS MATERIALIZED (
           SELECT day, y,
                  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
           FROM daily),
         scored AS MATERIALIZED (
           SELECT day, y, rn,
                  lag(y, 1) OVER (ORDER BY day) AS yl,
                  y - lag(y, 1) OVER (ORDER BY day) AS dy
           FROM rn0
           QUALIFY yl IS NOT NULL),
         sums AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS m,
                  CAST(SUM(rn) AS BIGINT) AS s1,
                  CAST(SUM(yl) AS BIGINT) AS s2,
                  CAST(SUM(rn * rn) AS BIGINT) AS s11,
                  SUM(CAST(rn * yl AS HUGEINT)) AS s12,
                  CAST(SUM(yl * yl) AS BIGINT) AS s22,
                  CAST(SUM(dy) AS BIGINT) AS sy,
                  SUM(CAST(rn * dy AS HUGEINT)) AS s1y,
                  SUM(CAST(yl * dy AS HUGEINT)) AS s2y
           FROM scored),
         dbls AS (
           SELECT m, CAST(m AS DOUBLE) AS md,
                  CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
                  CAST(s11 AS DOUBLE) AS s11d,
                  CAST(s12 AS DOUBLE) AS s12d,
                  CAST(s22 AS DOUBLE) AS s22d,
                  CAST(sy AS DOUBLE) AS syd,
                  CAST(s1y AS DOUBLE) AS s1yd,
                  CAST(s2y AS DOUBLE) AS s2yd
           FROM sums),
         solve0 AS (
           SELECT *, $dD AS ddet, $daD AS da, $dbD AS db, $dcD AS dc
           FROM dbls),
         solve AS (
           SELECT *,
                  CASE WHEN ddet > 0 THEN da / ddet END AS a,
                  CASE WHEN ddet > 0 THEN db / ddet END AS b,
                  CASE WHEN ddet > 0 THEN dc / ddet END AS g,
                  md * s11d - s1d * s1d AS c22
           FROM solve0),
         ssr AS (
           SELECT r.m, r.ddet, r.a, r.b, r.g, r.c22,
                  SUM(CAST(floor((CAST(l.dy AS DOUBLE) - r.a
                    - r.b * l.rn - r.g * l.yl)
                    * (CAST(l.dy AS DOUBLE) - r.a - r.b * l.rn
                    - r.g * l.yl) * 1e9 + 0.5) AS HUGEINT)) AS ssrq
           FROM scored l CROSS JOIN solve r
           GROUP BY 1, 2, 3, 4, 5, 6),
         fin0 AS (
           SELECT m, ddet, a, b, g, c22,
                  CAST(ssrq AS DOUBLE) / 1e9 AS ssr
           FROM ssr),
         fin1 AS (
           SELECT *, CASE WHEN m > 3 THEN ssr / (m - 3) END AS s2e
           FROM fin0),
         fin2 AS (
           SELECT *, CASE WHEN ddet > 0 THEN s2e * c22 / ddet END AS vg
           FROM fin1),
         fin3 AS (
           SELECT *, CASE WHEN vg > 0 THEN sqrt(vg) END AS se
           FROM fin2),
         fin AS (
           SELECT *, CASE WHEN se > 0 THEN g / se END AS tau
           FROM fin3)
         SELECT m AS n_scored,
                floor(a * 1e6 + 0.5) / 1e6 AS intercept,
                floor(b * 1e8 + 0.5) / 1e8 AS trend_b,
                floor(g * 1e6 + 0.5) / 1e6 AS gamma,
                floor(se * 1e6 + 0.5) / 1e6 AS se_gamma,
                floor(tau * 1e4 + 0.5) / 1e4 AS tau_stat,
                tau < -3.41 AS unit_root_rejected_05,
                tau < -3.96 AS unit_root_rejected_01
         FROM fin"""
    },

    "x_partial_autocorr" -> {
      val lagTerms = (1 to 5).map { j =>
        s"""CASE WHEN lag(e, $j) OVER win IS NOT NULL
             THEN CAST(floor(e * lag(e, $j) OVER win * 1e9 + 0.5)
                  AS HUGEINT)
             ELSE CAST(0 AS HUGEINT) END AS t$j"""
      }.mkString(",\n")
      val gammas = (1 to 5).map(j => s"SUM(t$j) AS g$j").mkString(", ")
      val rhos = (1 to 5).map(j =>
        s"""CASE WHEN g0 > 0
             THEN CAST(g$j AS DOUBLE) / CAST(g0 AS DOUBLE) END AS r$j""")
        .mkString(",\n")
      def lagRow(j: Int, p: String) =
        s"""SELECT CAST($j AS BIGINT) AS lag, n AS n_days,
               floor(r$j * 1e6 + 0.5) / 1e6 AS acf,
               floor($p * 1e6 + 0.5) / 1e6 AS pacf,
               floor(band * 1e6 + 0.5) / 1e6 AS wn_band,
               abs($p) > band AS outside_band
            FROM fin"""
      s"""WITH $dailyCumSql,
         dev AS (
           SELECT dy, n, CAST(y AS DOUBLE) - mean AS e FROM cum),
         lad AS (
           SELECT n, e,
                  $lagTerms
           FROM dev
           WINDOW win AS (ORDER BY dy)),
         agg AS (
           SELECT n,
                  SUM(CAST(floor(e * e * 1e9 + 0.5) AS HUGEINT)) AS g0,
                  $gammas
           FROM lad GROUP BY 1),
         rho AS (
           SELECT n,
                  $rhos
           FROM agg),
         l1 AS (SELECT *, r1 AS p11 FROM rho),
         l1b AS (SELECT *, 1.0 - p11 * p11 AS v1 FROM l1),
         l2 AS (SELECT *, CASE WHEN v1 > 0
                  THEN (r2 - p11 * r1) / v1 END AS p22 FROM l1b),
         l2b AS (SELECT *, p11 - p22 * p11 AS p21,
                  v1 * (1.0 - p22 * p22) AS v2 FROM l2),
         l3 AS (SELECT *, CASE WHEN v2 > 0
                  THEN (r3 - (p21 * r2 + p22 * r1)) / v2 END AS p33
                FROM l2b),
         l3b AS (SELECT *, p21 - p33 * p22 AS p31,
                  p22 - p33 * p21 AS p32,
                  v2 * (1.0 - p33 * p33) AS v3 FROM l3),
         l4 AS (SELECT *, CASE WHEN v3 > 0
                  THEN (r4 - (p31 * r3 + p32 * r2 + p33 * r1)) / v3
                  END AS p44 FROM l3b),
         l4b AS (SELECT *, p31 - p44 * p33 AS p41,
                  p32 - p44 * p32 AS p42, p33 - p44 * p31 AS p43,
                  v3 * (1.0 - p44 * p44) AS v4 FROM l4),
         l5 AS (SELECT *, CASE WHEN v4 > 0
                  THEN (r5 - (p41 * r4 + p42 * r3 + p43 * r2
                    + p44 * r1)) / v4 END AS p55 FROM l4b),
         fin AS (SELECT *, 1.96 / sqrt(CAST(n AS DOUBLE)) AS band
                 FROM l5)
         SELECT * FROM (
           ${lagRow(1, "p11")}
           UNION ALL ${lagRow(2, "p22")}
           UNION ALL ${lagRow(3, "p33")}
           UNION ALL ${lagRow(4, "p44")}
           UNION ALL ${lagRow(5, "p55")})
         ORDER BY lag"""
    },

    "x_mincer_zarnowitz" -> s"""
      WITH monthly AS MATERIALIZED ($monthlyRevMilSql),
         lad AS (
           SELECT mth, r,
                  ${brownNumSql("r", mzWLit)} AS nq,
                  ${brownDenSql("r", mzQW)} AS dq
           FROM monthly
           WINDOW win AS (ORDER BY mth)),
         scored AS MATERIALIZED (
           SELECT mth, r, CAST(nq AS DOUBLE) / CAST(dq AS DOUBLE) AS f
           FROM lad WHERE dq > 0),
         sums AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS m,
                  SUM(CAST(floor(f * 1e9 + 0.5) AS HUGEINT)) AS sfq,
                  SUM(CAST(floor(f * f * 1e9 + 0.5) AS HUGEINT)) AS sffq,
                  SUM(CAST(floor(r * 1e9 + 0.5) AS HUGEINT)) AS syq,
                  SUM(CAST(floor(f * r * 1e9 + 0.5) AS HUGEINT)) AS sfyq
           FROM scored),
         dbls AS (
           SELECT m, CAST(m AS DOUBLE) AS md,
                  CAST(sfq AS DOUBLE) / 1e9 AS sfd,
                  CAST(sffq AS DOUBLE) / 1e9 AS sffd,
                  CAST(syq AS DOUBLE) / 1e9 AS syd,
                  CAST(sfyq AS DOUBLE) / 1e9 AS sfyd
           FROM sums),
         coefs0 AS (
           SELECT *, md * sffd - sfd * sfd AS den FROM dbls),
         coefs1 AS (
           SELECT *, CASE WHEN den > 0
             THEN (md * sfyd - sfd * syd) / den END AS b
           FROM coefs0),
         coefs AS (
           SELECT *, (syd - b * sfd) / md AS a FROM coefs1),
         ssr AS (
           SELECT c.m, c.a, c.b,
                  SUM(CAST(floor((s.r - c.a - c.b * s.f)
                    * (s.r - c.a - c.b * s.f) * 1e9 + 0.5) AS HUGEINT))
                    AS ssruq,
                  SUM(CAST(floor((s.r - s.f) * (s.r - s.f) * 1e9 + 0.5)
                    AS HUGEINT)) AS ssrrq
           FROM scored s CROSS JOIN coefs c
           GROUP BY 1, 2, 3),
         fin0 AS (
           SELECT m, a, b,
                  CAST(ssruq AS DOUBLE) / 1e9 AS ssru,
                  CAST(ssrrq AS DOUBLE) / 1e9 AS ssrr
           FROM ssr),
         fin AS (
           SELECT *, CASE WHEN ssru > 0 AND m > 2
             THEN ((ssrr - ssru) / 2.0)
               / (ssru / (CAST(m AS DOUBLE) - 2)) END AS fstat
           FROM fin0)
         SELECT m AS n_scored,
                floor(a * 1e4 + 0.5) / 1e4 AS intercept,
                floor(b * 1e4 + 0.5) / 1e4 AS slope,
                floor(ssrr * 1e4 + 0.5) / 1e4 AS ssr_restricted,
                floor(ssru * 1e4 + 0.5) / 1e4 AS ssr_unrestricted,
                floor(fstat * 1e4 + 0.5) / 1e4 AS f_stat,
                fstat <= 2.9957 AS efficient_05
         FROM fin""",

    "x_anderson_darling" -> {
      val phiSql = phiAsSql("z")
      s"""WITH pooledd AS (
           SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM orders GROUP BY 1),
         byprd AS (
           SELECT o_orderpriority AS scope,
                  date_trunc('day', o_orderdate) AS day,
                  CAST(COUNT(*) AS BIGINT) AS y
           FROM orders GROUP BY 1, 2),
         uni AS (
           SELECT 'ALL' AS scope, y FROM pooledd
           UNION ALL SELECT scope, y FROM byprd),
         hist AS MATERIALIZED (
           SELECT scope, y, CAST(COUNT(*) AS BIGINT) AS c
           FROM uni GROUP BY 1, 2),
         st0 AS (
           SELECT scope, CAST(SUM(c) AS BIGINT) AS n,
                  CAST(SUM(c * y) AS BIGINT) AS sy,
                  SUM(CAST(c * y * y AS HUGEINT)) AS syy
           FROM hist GROUP BY 1),
         st1 AS (
           SELECT scope, n, CAST(sy AS DOUBLE) / n AS mean,
                  CASE WHEN n > 1 THEN (CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * sy / n) / (n - 1) END AS vr
           FROM st0),
         st AS (
           SELECT scope, n, mean,
                  CASE WHEN vr > 0 THEN sqrt(vr) END AS sd
           FROM st1),
         rk AS (
           SELECT scope, y, c,
                  COALESCE(CAST(SUM(c) OVER (PARTITION BY scope
                    ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING) AS BIGINT), 0) AS r0
           FROM hist),
         zz AS (
           SELECT r.scope, r.y, r.c, r.r0, s.n, s.mean, s.sd,
                  CASE WHEN s.sd > 0
                    THEN (CAST(r.y AS DOUBLE) - s.mean) / s.sd END AS z
           FROM rk r JOIN st s USING (scope)),
         ph AS (
           SELECT *, $phiSql AS phi FROM zz),
         tm AS (
           SELECT scope, n, mean, sd, phi,
                  CASE WHEN z IS NULL OR phi <= 0 OR phi >= 1
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
                  END AS bad,
                  c * (2 * r0 + c) AS w1,
                  c * (2 * n - 2 * r0 - c) AS w2
           FROM ph),
         tq AS (
           SELECT scope, n, mean, sd, bad,
                  CASE WHEN bad = 0
                    THEN CAST(floor((CAST(w1 AS DOUBLE) * ln(phi)
                      + CAST(w2 AS DOUBLE) * ln(1.0 - phi)) * 1e6 + 0.5)
                      AS HUGEINT)
                    ELSE CAST(0 AS HUGEINT) END AS term
           FROM tm),
         agg AS (
           SELECT scope, n, mean, sd, SUM(term) AS sq,
                  CAST(SUM(bad) AS BIGINT) AS badc
           FROM tq GROUP BY 1, 2, 3, 4),
         fin0 AS (
           SELECT scope, n, mean, sd,
                  CASE WHEN badc = 0 AND n > 0
                    THEN -CAST(n AS DOUBLE)
                      - CAST(sq AS DOUBLE) / 1e6 / n END AS a2
           FROM agg),
         fin AS (
           SELECT scope, n, mean, sd, a2,
                  a2 * (1.0 + 0.75 / n
                    + 2.25 / (CAST(n AS DOUBLE) * n)) AS a2s
           FROM fin0)
         SELECT scope, n AS n_days,
                floor(mean * 1e4 + 0.5) / 1e4 AS mean_daily,
                floor(sd * 1e4 + 0.5) / 1e4 AS sd_daily,
                floor(a2 * 1e6 + 0.5) / 1e6 AS a2_stat,
                floor(a2s * 1e6 + 0.5) / 1e6 AS a2_star,
                a2s <= 0.752 AS normal_05
         FROM fin ORDER BY scope"""
    })
}
