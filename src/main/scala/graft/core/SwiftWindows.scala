package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** O5 — `swifter.rolling(...).apply` (swifter/swifter.py:140-172,710-763).
  *
  * Count windows map to `rowsBetween(-(n-1), 0)`, time-offset windows to
  * `rangeBetween(-micros, 0)` over the microsecond epoch — both are native
  * Spark window frames: no custom shuffle, one sort per partition key,
  * codegen'd for built-in reducers.
  *
  * Built-in reducers (`agg`) run as native window aggregates; an arbitrary
  * Scala function (`apply`) runs over `collect_list` of the frame — the
  * documented fallback of SURVEY.md §7.3, bounded by the window size.
  */
final class SwiftRolling(sw: Swift, spec: WindowSpec, minPeriods: Int) {

  /** pandas `min_periods(n)`: frames with fewer rows yield null. */
  def withMin(n: Int): SwiftRolling = new SwiftRolling(sw, spec, n)

  /** Native window aggregate: `aggExpr` is the aggregate (e.g.
    * `sum(col("value"))`), `post` an optional scalar transform applied
    * AFTER the OVER clause (e.g. a cast). */
  def agg(aggExpr: Column, out: String, post: Column => Column = identity): DataFrame = {
    withMinPeriods(sw.df, out, post(aggExpr.over(spec)))
  }

  /** Arbitrary function over the window's values (oldest→newest). The
    * output type is declared explicitly (the Dask-`meta` analog), which
    * lets `fn` stay dynamically typed like the reference's black-box
    * functions. */
  def apply(valueCol: String, out: String, outType: DataType)(
      fn: Seq[Double] => Any): DataFrame = {
    val theUdf = SwiftRolling.dynamicUdf(fn, outType)
    val frame = collect_list(col(valueCol)).over(spec)
    withMinPeriods(sw.df, out, theUdf(frame))
  }

  /** Scalar-numeric rolling.apply — the pandas contract (rolling.apply
    * requires a numeric scalar return) — via a custom [[Aggregator]]
    * window function instead of `collect_list`+UDF: the frame streams
    * into the aggregation buffer directly, with no intermediate ArrayData
    * column materialized per row between the window operator and the UDF.
    * Prefer this path; the `outType` overload remains for non-numeric
    * experiments. */
  def apply(valueCol: String, out: String)(fn: Seq[Double] => Double): DataFrame = {
    val fnUdaf = udaf(new RollingApplyAgg(fn), org.apache.spark.sql.Encoders.scalaDouble)
    withMinPeriods(sw.df, out, fnUdaf(col(valueCol)).over(spec))
  }

  /** pandas `rolling(n).cov(other)` — SAMPLE covariance (ddof = 1) in
    * exact arithmetic: both columns move to integer micro-units, and
    * cov = (n·Σxy − Σx·Σy) / (n·(n−1)) / 10¹² accumulates the sums in
    * DECIMAL(38,0) (a per-row micro-product can reach ~10¹⁸, so n·Σxy
    * overflows BIGINT — DuckDB mirrors with HUGEINT). The numerator is
    * ONE exact-integer→double conversion (correctly rounded identically
    * in both engines) followed by two IEEE divisions in fixed order.
    * Frames with fewer than max(min_periods, 2) rows yield null. */
  def cov(xCol: String, yCol: String, out: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // pairwise-complete: a row contributes only when BOTH inputs are
    // set (pandas NaN handling) — masking keeps Σx/Σy/Σxy/n consistent
    val bothSet = col(xCol).isNotNull && col(yCol).isNotNull
    def micro(c: String) =
      when(bothSet,
        (col(c).cast(org.apache.spark.sql.types.DecimalType(20, 6)) * lit(1000000L))
          .cast("long"))
    val xm = micro(xCol).cast(d38)
    val ym = micro(yCol).cast(d38)
    val n = count(xm).over(spec)
    val sxy = sum(xm * ym).over(spec)
    val sx = sum(xm).over(spec)
    val sy = sum(ym).over(spec)
    val num = (n.cast(d38) * sxy - sx * sy).cast("double")
    val res = num / (n * (n - lit(1L))).cast("double") / lit(1e12)
    sw.df.withColumn(out, when(n >= math.max(minPeriods, 2), res))
  }

  /** pandas `rolling(n).corr(other)` — Pearson correlation over the
    * frame from the same exact micro-unit sums as [[cov]]:
    *
    *   corr = (n·Σxy − Σx·Σy) ∕ (√(n·Σx²−(Σx)²) · √(n·Σy²−(Σy)²))
    *
    * Numerator and both variance terms are EXACT integers in
    * DECIMAL(38,0)/HUGEINT; the fixed-point scale cancels between them,
    * so the IEEE tail is two √s, one multiply, one division in mirrored
    * order. `scale` is the per-value fixed point (default micro, like
    * [[cov]]); pick it so n·Σx² stays under 2⁶³ when a DuckDB-mirrored
    * oracle is in play — DuckDB's HUGEINT→DOUBLE cast double-rounds
    * above 2⁶³ (measured ~260 ulp off on 2.8e19) while Spark's
    * Decimal→double rounds correctly, so exact-integer mirrors must
    * stay in BIGINT-cast range. Frames with n < max(min_periods, 2) or
    * a zero-variance side yield null (pandas NaN). */
  def corr(xCol: String, yCol: String, out: String,
      scale: Long = 1000000L): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val digits = math.log10(scale.toDouble).round.toInt
    // pairwise-complete masking, same contract as [[cov]]
    val bothSet = col(xCol).isNotNull && col(yCol).isNotNull
    def fixed(c: String) =
      when(bothSet,
        (col(c).cast(org.apache.spark.sql.types.DecimalType(20, digits)) * lit(scale))
          .cast("long")).cast(d38)
    val xm = fixed(xCol)
    val ym = fixed(yCol)
    val n = count(xm).over(spec)
    val nd = n.cast(d38)
    val num = (nd * sum(xm * ym).over(spec)
      - sum(xm).over(spec) * sum(ym).over(spec)).cast("double")
    val ax = (nd * sum(xm * xm).over(spec)
      - sum(xm).over(spec) * sum(xm).over(spec)).cast("double")
    val ay = (nd * sum(ym * ym).over(spec)
      - sum(ym).over(spec) * sum(ym).over(spec)).cast("double")
    val res = num / (sqrt(ax) * sqrt(ay))
    sw.df.withColumn(out,
      when(n >= math.max(minPeriods, 2) && ax > 0 && ay > 0, res))
  }

  /** pandas `rolling.skew()` — the adjusted Fisher–Pearson coefficient
    * G₁ = √(n(n−1))∕(n−2) · (m₃∕n)∕(m₂∕n)^{3/2}. Substituting the raw
    * micro-unit sums gives G₁ = B·√(n(n−1)) ∕ (A·√A·(n−2)) with
    *
    *   A = n·Σx² − (Σx)²        B = n²·Σx³ − 3n·Σx·Σx² + 2(Σx)³
    *
    * — both EXACT integers in DECIMAL(38,0)/HUGEINT (the micro scale
    * cancels between B and A^{3/2}). A^{3/2} is spelled A·√A, never
    * pow(x,1.5) (whose rounding is libm-dependent); the IEEE tail is
    * the two √s, two multiplies and one division in oracle-mirrored
    * order. Frames with n < max(min_periods, 3) (or zero variance)
    * yield null, matching pandas NaN. */
  def skew(valueCol: String, out: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val xm = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(20, 6))
      * lit(1000000L)).cast("long").cast(d38)
    val n = count(lit(1)).over(spec)
    val sx = sum(xm).over(spec)
    val sxx = sum(xm * xm).over(spec)
    val sxxx = sum(xm * xm * xm).over(spec)
    val nd = n.cast(d38)
    val a = (nd * sxx - sx * sx).cast("double")
    val b = (nd * nd * sxxx - lit(3L).cast(d38) * nd * sx * sxx
      + lit(2L).cast(d38) * sx * sx * sx).cast("double")
    val nn = n.cast("double")
    val res = (b * sqrt(nn * (nn - lit(1.0)))) / ((a * sqrt(a)) * (nn - lit(2.0)))
    sw.df.withColumn(out,
      when(n >= math.max(minPeriods, 3) && a > 0, res))
  }

  /** pandas `rolling.kurt()` — the adjusted sample excess kurtosis
    * G₂ = (n−1)∕((n−2)(n−3)) · ((n+1)·g₂ + 6) with g₂ = n·m₄∕m₂² − 3.
    * Substituting raw integer sums Sₖ = Σxᵏ (shift-scale cancels):
    *
    *   A = n·S₂ − S₁²                        (= n·m₂)
    *   C = n³·S₄ − 4n²·S₁·S₃ + 6n·S₁²·S₂ − 3·S₁⁴   (= n³·m₄)
    *
    * so g₂ = C∕A² − 3 exactly. Values move to `scale` fixed point
    * (default 10⁴, exact for ≤4-decimal inputs; beyond that both
    * engines quantize from the SAME decimal cast, staying bit-equal).
    * CONTRACT — the magnitude bound: the −3·S₁⁴ term must stay inside
    * DECIMAL(38,0)/HUGEINT, i.e. |Σ frame values|·scale ≲ 4.2e9 (at
    * the default: |value| up to ~5·10⁴ for 7-row frames). Past the
    * bound Spark's non-ANSI decimal overflow yields NULL while a
    * HUGEINT oracle ERRORS — so pick `scale` for the data's range
    * (10² supports |value| ≈ 4·10⁶, still exact for 2-decimal data).
    * IEEE tail (mirrored op order): c∕(a·a), then the two affine steps.
    * Frames with n < max(min_periods, 4) or zero variance yield null. */
  def kurt(valueCol: String, out: String, scale: Long = 10000L): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val digits = math.log10(scale.toDouble).round.toInt
    val xm = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(20, digits))
      * lit(scale)).cast("long").cast(d38)
    val n = count(col(valueCol)).over(spec)
    val s1 = sum(xm).over(spec)
    val s2 = sum(xm * xm).over(spec)
    val s3 = sum(xm * xm * xm).over(spec)
    val s4 = sum(xm * xm * xm * xm).over(spec)
    val nd = n.cast(d38)
    val a = (nd * s2 - s1 * s1).cast("double")
    val c = (nd * nd * nd * s4 - lit(4L).cast(d38) * nd * nd * s1 * s3
      + lit(6L).cast(d38) * nd * s1 * s1 * s2
      - lit(3L).cast(d38) * s1 * s1 * s1 * s1).cast("double")
    val nn = n.cast("double")
    val res = (nn - lit(1.0)) / ((nn - lit(2.0)) * (nn - lit(3.0))) *
      ((nn + lit(1.0)) * (c / (a * a) - lit(3.0)) + lit(6.0))
    sw.df.withColumn(out, when(n >= math.max(minPeriods, 4) && a > 0, res))
  }

  /** pandas `rolling.sem()` — standard error of the mean, ddof = 1:
    * sem = s∕√(n−ddof) (pandas divides by n−ddof, NOT n) with
    * s² = A∕(n(n−1))∕10¹² from the same exact integer A = n·S₂ − S₁² as
    * [[skew]]/[[kurt]] (micro-units). One sqrt over three IEEE divisions
    * in mirrored order. n < max(min_periods, 2) yields null. */
  def sem(valueCol: String, out: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val xm = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(20, 6))
      * lit(1000000L)).cast("long").cast(d38)
    val n = count(col(valueCol)).over(spec)
    val s1 = sum(xm).over(spec)
    val s2 = sum(xm * xm).over(spec)
    val a = (n.cast(d38) * s2 - s1 * s1).cast("double")
    val nn = n.cast("double")
    val res = sqrt(a / (nn * (nn - lit(1.0))) / lit(1e12) / (nn - lit(1.0)))
    sw.df.withColumn(out, when(n >= math.max(minPeriods, 2) && a >= 0, res))
  }

  /** pandas `rolling.var(ddof=1)` / `.std()` — sample variance from the
    * exact integer A = n·S₂ − S₁² (micro-units): var = A∕(n(n−1))∕10¹²,
    * std = √var. Two IEEE divisions + optional sqrt in mirrored order —
    * unlike native `var_samp`, whose streaming-moment accumulation order
    * is engine-specific. n < max(min_periods, 2) yields null. */
  def varStd(valueCol: String, varOut: String, stdOut: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val xm = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(20, 6))
      * lit(1000000L)).cast("long").cast(d38)
    val n = count(col(valueCol)).over(spec)
    val s1 = sum(xm).over(spec)
    val s2 = sum(xm * xm).over(spec)
    val a = (n.cast(d38) * s2 - s1 * s1).cast("double")
    val nn = n.cast("double")
    val v = a / (nn * (nn - lit(1.0))) / lit(1e12)
    val gated = when(n >= math.max(minPeriods, 2) && a >= 0, v)
    sw.df.withColumn(varOut, gated).withColumn(stdOut, sqrt(col(varOut)))
  }

  /** pandas `rolling.median()` — exact midpoint of the sorted frame in
    * integer micro-units: odd frames pick the middle element, even
    * frames average the two middles. Both middles are BIGINT micros
    * (< 2⁵³, so the double add is exact) and the single IEEE op is the
    * final ÷2·10⁶ — bit-mirrorable, unlike interpolation-order-dependent
    * native percentile implementations. */
  def median(valueCol: String, out: String): DataFrame = {
    val xm = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(20, 6))
      * lit(1000000L)).cast("long")
    val sorted = sort_array(collect_list(xm).over(spec))
    val n = size(sorted)
    val lo = element_at(sorted, ((n + lit(1)) / lit(2)).cast("int"))
    val hi = element_at(sorted, (n / lit(2)).cast("int") + lit(1))
    val res = (lo.cast("double") + hi.cast("double")) / lit(2000000.0)
    sw.df.withColumn(out, when(n >= math.max(minPeriods, 1), res))
  }

  /** Rolling median absolute deviation — the robust dispersion measure
    * (pandas idiom `rolling.apply(lambda s: (s - s.median()).abs()
    * .median())`): deviations computed against 2×median (lo+hi of the
    * sorted micro frame) so EVERYTHING stays integer — |2x − (lo+hi)|
    * is in 2-micro units and the deviation median's own midpoint sum is
    * in 4-micro units, ONE final division by 4·10⁶. Same sorted window
    * frame as [[median]] (the engine computes the window list once; the
    * two medians are projections over it). */
  def mad(valueCol: String, out: String): DataFrame = {
    val xm = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(20, 6))
      * lit(1000000L)).cast("long")
    val sorted = sort_array(collect_list(xm).over(spec))
    val n = size(sorted)
    def mid2(arr: Column): Column =
      element_at(arr, ((n + lit(1)) / lit(2)).cast("int")) +
        element_at(arr, (n / lit(2)).cast("int") + lit(1))
    val m2 = mid2(sorted) // 2×median, micro units
    val devs = sort_array(transform(sorted, x => abs(x * 2 - m2)))
    val res = mid2(devs).cast("double") / lit(4000000.0)
    sw.df.withColumn(out, when(n >= math.max(minPeriods, 1), res))
  }

  /** pandas `rolling.quantile(q, interpolation='linear')` for a RATIONAL
    * q = num∕den — the type-7 position q·(n−1) = num·(n−1)∕den splits
    * into integer k = ⌊·⌋ and remainder, so the interpolated value
    * ((den−rem)·x₍ₖ₎ + rem·x₍ₖ₊₁₎)∕den is EXACT integer arithmetic over
    * the sorted micro-unit frame; the one IEEE op is the final division.
    * (Irrational q has no cross-engine-stable interpolation — the
    * rational contract is the reproducibility boundary.) */
  def quantile(valueCol: String, num: Int, den: Int, out: String): DataFrame = {
    require(den > 0 && num >= 0 && num <= den, s"quantile $num/$den outside [0,1]")
    val xm = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(20, 6))
      * lit(1000000L)).cast("long")
    val sorted = sort_array(collect_list(xm).over(spec))
    val n = size(sorted)
    val p = (n - lit(1)) * lit(num)
    val k = (p / lit(den)).cast("int")
    val rem = pmod(p, lit(den))
    val a = element_at(sorted, k + lit(1))
    // rem == 0 ⇒ no upper neighbour needed; guard keeps element_at in
    // bounds at the top of the frame (ANSI-safe)
    val b = when(rem === 0, a).otherwise(element_at(sorted, k + lit(2)))
    val res = ((lit(den.toLong) - rem) * a + rem * b).cast("double") /
      lit(den * 1000000.0)
    sw.df.withColumn(out, when(n >= math.max(minPeriods, 1), res))
  }

  /** pandas `rolling.rank(method='average', pct=False)` — the average
    * rank of the CURRENT row's value within its frame:
    * (#\{x < cur\} + #\{x ≤ cur\} + 1)∕2. Pure comparison counting via
    * the `filter` higher-order function (no quantization — double
    * comparisons are exact); the ÷2 over a small integer is the one
    * IEEE op. */
  def rank(valueCol: String, out: String): DataFrame = {
    val arr = collect_list(col(valueCol)).over(spec)
    val cur = col(valueCol)
    val lt = size(filter(arr, e => e < cur))
    val le = size(filter(arr, e => e <= cur))
    val res = (lt + le + lit(1)).cast("double") / lit(2.0)
    sw.df.withColumn(out,
      when(size(arr) >= math.max(minPeriods, 1) && cur.isNotNull, res))
  }

  /** pandas `min_periods`: frames with fewer observations yield null. */
  private def withMinPeriods(df: DataFrame, out: String, res: Column): DataFrame = {
    if (minPeriods <= 1) df.withColumn(out, res)
    else {
      val n = count(lit(1)).over(spec)
      df.withColumn(out, when(n >= minPeriods, res))
    }
  }
}

/** rolling.apply as a typed [[org.apache.spark.sql.expressions.Aggregator]]
  * window function: the frame's values accumulate into the buffer
  * (prepend, O(1)), `finish` reverses to oldest→newest and applies the
  * user function. Registered via `functions.udaf` and evaluated with
  * `.over(spec)` — no collect_list ArrayData column between the window
  * operator and the function. */
private[core] final class RollingApplyAgg(fn: Seq[Double] => Double)
    extends org.apache.spark.sql.expressions.Aggregator[Double, List[Double], Double] {
  override def zero: List[Double] = Nil
  override def reduce(b: List[Double], a: Double): List[Double] = a :: b
  override def merge(x: List[Double], y: List[Double]): List[Double] = y ::: x
  override def finish(b: List[Double]): Double = fn(b.reverse)
  override def bufferEncoder: org.apache.spark.sql.Encoder[List[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Double]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Double] =
    org.apache.spark.sql.Encoders.scalaDouble
}

/** pandas `win_type=` weighted windows (swifter/swifter.py:140-172 passes
  * win_type through to pandas.rolling): the rolling mean becomes
  * Σ wₖ·xₖ / Σ wₖ with window-shape weights. Weights are kept as INTEGER
  * numerators over a common denominator (triang(5) = [1,2,3,2,1]/3 ≡
  * [2,4,6,4,2]/18) and values move to exact micro-units, so the whole
  * weighted sum is BIGINT arithmetic — deterministic and bit-for-bit
  * mirrorable by the DuckDB oracle; only the final mean division is a
  * single IEEE double op. min_periods defaults to the window size
  * (pandas: weighted windows require full frames).
  */
final class SwiftRollingWeighted(sw: Swift, spec: WindowSpec, window: Int,
    nums: Seq[Long], minPeriods: Int) {

  def withMin(n: Int): SwiftRollingWeighted =
    new SwiftRollingWeighted(sw, spec, window, nums, n)

  /** Weighted rolling mean of `valueCol` over the count window. */
  def mean(valueCol: String, out: String): DataFrame = {
    // exact micro-units: DECIMAL(20,6) × 10⁶ is integer-valued, the cast
    // to BIGINT lossless — every weight·value product and the running sum
    // stay in exact integer arithmetic
    val vm = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(20, 6))
      * lit(1000000L)).cast("long")
    val vals = collect_list(vm).over(spec)
    // fixed_dot = the codegen'd Σ vals·weights (the zip_with/aggregate
    // HOF fold walked an interpreted tree per element). The size guard
    // preserves the HOF's partial-frame semantics exactly: zip_with
    // padded a short frame with nulls, nulling the whole fold — so a
    // frame with fewer values than weights must yield null, while
    // fixed_dot alone would return the prefix dot product.
    val wsum = when(size(vals) >= lit(nums.length),
      graft.functions.HashExpressions.fixed_dot(
        vals, array(nums.map(lit): _*)))
    val res = wsum.cast("double") / lit(nums.sum.toDouble * 1000000.0)
    val n = count(lit(1)).over(spec)
    sw.df.withColumn(out, when(n >= minPeriods, res))
  }
}

object SwiftRollingWeighted {
  /** Integer weight numerators for a window shape; the common denominator
    * cancels in the mean. `triang` matches scipy.signal.windows.triang:
    * numₖ = 2d − |2k − (n−1)| with d = (n+1)/2 (odd n) or n/2 (even n);
    * `boxcar` is the uniform window (= the unweighted mean). The
    * irrational-weight scipy shapes — `gaussian`
    * wₖ = exp(−½((k−(n−1)/2)/std)²), `hamming`, `blackman` — are
    * QUANTIZED to micro-weights round(wₖ·10⁶): the weighted sum stays
    * pure BIGINT (same fixed-point trick as the values), so the DuckDB
    * mirror built from the SAME Longs is bit-exact. Disclosed divergence
    * from pandas: the 10⁻⁶ weight quantization (≤ 1e-6 relative on the
    * mean) — pandas' own float weights aren't cross-engine reproducible
    * at all. */
  def weights(n: Int, winType: String, std: Double = 0.0): Seq[Long] = winType match {
    case "triang" =>
      val d = if (n % 2 == 1) (n + 1) / 2 else n / 2
      (0 until n).map(k => 2L * d - math.abs(2L * k - (n - 1)))
    case "boxcar" => Seq.fill(n)(1L)
    case "bartlett" => // scipy: 2/(n−1)·((n−1)/2 − |k − (n−1)/2|); the
      // 2/(n−1) factor cancels in the mean → exact integers, zero endpoints
      (0 until n).map(k => (n - 1L) - math.abs(2L * k - (n - 1)))
    case "gaussian" =>
      require(std > 0, s"win_type=gaussian needs std > 0, got $std")
      (0 until n).map { k =>
        val z = (k - (n - 1) / 2.0) / std
        math.round(math.exp(-0.5 * z * z) * 1e6)
      }
    case "hamming" => // scipy: 0.54 − 0.46·cos(2πk/(n−1)), micro-quantized
      (0 until n).map { k =>
        math.round((0.54 - 0.46 * math.cos(2 * math.Pi * k / (n - 1))) * 1e6)
      }
    case "blackman" => // scipy 3-term: 0.42 − 0.5·cos + 0.08·cos(2·), micro-quantized
      (0 until n).map { k =>
        val t = 2 * math.Pi * k / (n - 1)
        math.round((0.42 - 0.5 * math.cos(t) + 0.08 * math.cos(2 * t)) * 1e6)
      }
    case "parzen" => // de la Vallée Poussin window, scipy's grid (what
      // pandas win_type='parzen' calls): position offset from center is
      // p/2 with p = |2k−(n−1)|, normalized by n/2 → x = p/n, with the
      // piecewise cutoff at |k−(n−1)/2| ≤ (n−1)/4 ⇔ 2p ≤ n−1:
      // w = 1 − 6x² + 6x³ (inner) else 2(1−x)³ — a CUBIC in p/n, so
      // scaling by n³ (cancels in the mean) gives EXACT integers like
      // triang/bartlett: no quantization at all. NB: endpoints are
      // 2(1−(n−1)/n)³ = 2/n³ > 0 — scipy/pandas parzen never reaches 0
      val q = n.toLong
      (0 until n).map { k =>
        val p = math.abs(2L * k - (n - 1))
        if (2 * p <= n - 1) q * q * q - 6 * p * p * q + 6 * p * p * p
        else 2 * (q - p) * (q - p) * (q - p)
      }
    case "cosine" => // scipy: sin(π(k+½)/n), micro-quantized
      (0 until n).map(k => math.round(math.sin(math.Pi * (k + 0.5) / n) * 1e6))
    case "blackmanharris" => // scipy 4-term minimum-sidelobe cosine sum,
      // micro-quantized like hamming/blackman
      cosineSum(n, Seq(0.35875, -0.48829, 0.14128, -0.01168))
    case "nuttall" => // scipy Nuttall 4-term (continuous first derivative)
      cosineSum(n, Seq(0.3635819, -0.4891775, 0.1365995, -0.0106411))
    case "kaiser" => // scipy: I₀(β·√(1−((2k−(n−1))/(n−1))²)) / I₀(β) with
      // β = the `std` slot (pandas .mean(beta=)); micro-quantized
      require(std > 0, s"win_type=kaiser needs beta > 0 (pass via std=), got $std")
      val i0b = besselI0(std)
      (0 until n).map { k =>
        val r = (2.0 * k - (n - 1)) / (n - 1)
        math.round(besselI0(std * math.sqrt(math.max(0.0, 1 - r * r))) / i0b * 1e6)
      }
    case "exponential" => // scipy (symmetric form): exp(−|k−(n−1)/2|/τ)
      // with τ = the `std` slot (pandas .mean(tau=)); micro-quantized
      require(std > 0, s"win_type=exponential needs tau > 0 (pass via std=), got $std")
      (0 until n).map { k =>
        math.round(math.exp(-math.abs(k - (n - 1) / 2.0) / std) * 1e6)
      }
    case other =>
      throw new IllegalArgumentException(
        "win_type must be triang|boxcar|bartlett|parzen|cosine|gaussian|hamming|" +
          s"blackman|blackmanharris|nuttall|kaiser|exponential, got '$other'")
  }

  /** Generalized cosine-sum window Σⱼ aⱼ·cos(2πjk/(n−1)) (hamming/blackman
    * family), micro-quantized to integer weight numerators. */
  private def cosineSum(n: Int, as: Seq[Double]): Seq[Long] =
    (0 until n).map { k =>
      val t = 2 * math.Pi * k / (n - 1)
      math.round(as.zipWithIndex.map { case (a, j) => a * math.cos(j * t) }.sum * 1e6)
    }

  /** Modified Bessel function of the first kind, order 0 — the kaiser
    * window's kernel — by its power series Σ ((x/2)^m / m!)², which
    * converges in a few dozen terms for any practical β. */
  private[graft] def besselI0(x: Double): Double = {
    var term = 1.0; var sum = 1.0; var m = 1
    val h = x / 2
    while (term > 1e-17 * sum && m < 200) {
      term *= (h / m) * (h / m); sum += term; m += 1
    }
    sum
  }

  def counted(sw: Swift, window: Int, winType: String, orderBy: Seq[String],
      partitionBy: Seq[String], std: Double = 0.0): SwiftRollingWeighted = {
    SwiftRolling.warnIfGlobal(sw, partitionBy, s"rolling($window, win_type=$winType)")
    val base = if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*)
               else Window.partitionBy()
    val spec = base.orderBy(orderBy.map(col): _*)
      .rowsBetween(-(window.toLong - 1), Window.currentRow)
    new SwiftRollingWeighted(sw, spec, window, weights(window, winType, std), window)
  }
}

/** pandas `ewm(alpha).mean()` with `adjust=True` (the pandas default):
  * yₜ = Σᵢ (1−α)^i·xₜ₋ᵢ / Σᵢ (1−α)^i over the row's history.
  *
  * The exponential weights are QUANTIZED to micro-weights
  * wₖ = round((1−α)^k·10⁶) — the same fixed-point trick as
  * [[SwiftRollingWeighted]] — which makes the tail EXACTLY zero past
  * W = the first k where the rounded weight hits 0 (α=0.5 → W=21). The
  * full-history EWM therefore equals a W-row bounded window: the frame is
  * `rowsBetween(-(W-1), 0)`, cost O(n·W) with no unbounded collect.
  * Early rows (m < W values) renormalize over the weights present,
  * exactly pandas adjust=True. All products/sums are BIGINT; the single
  * double op is the final division, so the DuckDB mirror built from the
  * SAME Long weights is bit-exact. Disclosed divergences from pandas:
  * the 10⁻⁶ weight quantization (≤1e-6 relative on the mean), and null
  * handling — `collect_list` drops nulls, so null values are skipped
  * with the remaining weights renormalized over the values present:
  * pandas `ignore_na=True` semantics (the pandas DEFAULT ignore_na=False
  * instead decays by absolute position across the gap). The DuckDB
  * mirror applies `list_filter(vs, v -> v IS NOT NULL)` to its kept-null
  * `list()` frame, so both engines skip nulls identically — a null row
  * still consumes one slot of the bounded W-row frame on both sides.
  */
final class SwiftEwm(sw: Swift, spec: WindowSpec, microWeights: Seq[Long]) {

  // Frame-SIZE-only quantities hoisted out of the per-row expression:
  // the weights are a compile-time table, so Σw, Σw² and the reversed
  // weight slice depend only on m = #values in the frame. Recomputing
  // them with per-row aggregate() folds was the #2 query in the r7 bench
  // (6.9s); as size-indexed literal lookups only the two value folds
  // (Σwx, Σwx²) remain per-row work. The looked-up Longs are identical
  // to the folded ones, so results — and the DuckDB mirror — are
  // unchanged bit-for-bit.
  private val prefW: Seq[Long] = microWeights.scanLeft(0L)(_ + _).tail
  private val prefW2: Seq[Long] = microWeights.scanLeft(0L)((a, w) => a + w * w).tail
  private val usedByM: Seq[Seq[Long]] =
    (1 to microWeights.length).map(m => microWeights.take(m).reverse)
  private def sumWOf(m: Column): Column = element_at(typedlit(prefW), m)
  private def sumW2Of(m: Column): Column = element_at(typedlit(prefW2), m)
  private def usedOf(m: Column): Column = element_at(typedlit(usedByM), m)

  /** EWM mean of `valueCol`; frame values arrive oldest→newest, so the
    * weight vector is the first-m prefix reversed (newest gets w₀). */
  def mean(valueCol: String, out: String): DataFrame = {
    val vm = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(20, 6))
      * lit(1000000L)).cast("long")
    val vals = collect_list(vm).over(spec)
    val m = size(vals)
    // codegen'd dot product; usedOf(m) has exactly m = size(vals)
    // elements, so no zip_with padding semantics to preserve
    val num = graft.functions.HashExpressions.fixed_dot(vals, usedOf(m))
    val den = sumWOf(m)
    // den·10⁶ ≤ 2·10¹³ < 2⁵³: the double product is exact, so the one
    // rounding step is the final division — mirrored verbatim in SQL.
    // The when(m >= 1) guard is load-bearing: collect_list drops nulls, so
    // a frame holding only nulls has m = 0 and element_at(…, 0) would
    // throw INVALID_INDEX_OF_ZERO; CaseWhen evaluates the branch lazily,
    // so all-null frames yield null (pandas NaN) instead.
    sw.df.withColumn(out,
      when(m >= 1, num.cast("double") / (den.cast("double") * lit(1e6))))
  }

  /** pandas `ewm(alpha).var(bias=False)` — the debiased weighted
    * variance. Algebra keeps EVERYTHING integer until one division:
    *
    *   var = [Σw·Σwx² − (Σwx)²] ∕ [(Σw)² − Σw²]
    *
    * (substitute μ = Σwx/Σw into Σw(x−μ)²/Σw and multiply through by
    * (Σw)², then apply the reliability-weights debias factor
    * (Σw)²/((Σw)²−Σw²) — the (Σw)² cancels). Numerator terms reach
    * ~10³⁰ (micro² units), so sums accumulate in DECIMAL(38,0) ≙ DuckDB
    * HUGEINT — exact on both engines. The IEEE tail is numerator÷
    * denominator then ÷10¹², in that order, mirrored by the oracle.
    * Frames with < 2 values yield null (pandas NaN). */
  def variance(valueCol: String, out: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val vm = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(20, 6))
      * lit(1000000L)).cast("long")
    val vals = collect_list(vm).over(spec)
    val m = size(vals)
    val used = usedOf(m)
    val sw1 = sumWOf(m) // Σw ≤ 2e6·21 — size-indexed lookup, not a fold
    val sw2 = sumW2Of(m) // Σw²
    // codegen'd dots: fixed_dot is the SAME Long multiply-add the
    // zip_with/aggregate fold performed; fixed_dot_sq accumulates the
    // v²·w terms (which genuinely need > 64 bits) in 128-bit integer
    // arithmetic, emitting one DECIMAL(38,0) per row — replacing the
    // interpreted per-element Decimal fold (measured 5.8s → see
    // HashExprSpec differential for bit-parity with the HOF form)
    val swx = graft.functions.HashExpressions.fixed_dot(vals, used)
    val swxx = graft.functions.HashExpressions.fixed_dot_sq(vals, used)
    val num = swxx * sw1 - swx.cast(dec) * swx
    val den = sw1.cast(dec) * sw1 - sw2
    sw.df.withColumn(out,
      when(m >= 2, num.cast("double") / den.cast("double") / lit(1e12)))
  }

  /** pandas `ewm(alpha).std(bias=False)`: √[[variance]] — one extra IEEE
    * sqrt, same determinism story. */
  def std(valueCol: String, out: String): DataFrame = {
    val v = variance(valueCol, out)
    v.withColumn(out, sqrt(col(out)))
  }
}

object SwiftEwm {
  /** Micro-weights for decay α: round((1−α)^k·10⁶) for k = 0 until the
    * first zero — the exact support of the quantized EWM. */
  def microWeights(alpha: Double): Seq[Long] = {
    require(alpha > 0 && alpha < 1, s"ewm needs 0 < alpha < 1, got $alpha")
    Iterator.iterate(1.0)(_ * (1 - alpha))
      .map(w => math.round(w * 1e6))
      .takeWhile(_ > 0L)
      .toSeq
  }

  def counted(sw: Swift, alpha: Double, orderBy: Seq[String],
      partitionBy: Seq[String]): SwiftEwm = {
    SwiftRolling.warnIfGlobal(sw, partitionBy, s"ewm(alpha=$alpha)")
    val ws = microWeights(alpha)
    val base = if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*)
               else Window.partitionBy()
    val spec = base.orderBy(orderBy.map(col): _*)
      .rowsBetween(-(ws.length.toLong - 1), Window.currentRow)
    new SwiftEwm(sw, spec, ws)
  }
}

object SwiftRolling {

  /** True when every leaf of the plan is an in-memory LocalRelation —
    * the K3 driver-local route and unit-test literals. Plan inspection
    * only: no job. */
  private[core] def isLocalInput(df: DataFrame): Boolean = {
    val leaves = df.queryExecution.logical.collectLeaves()
    leaves.nonEmpty && leaves.forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _: org.apache.spark.sql.catalyst.plans.logical.OneRowRelation => true
      case _ => false
    }
  }

  /** A window spec with no partitionBy is a SINGLE global partition —
    * Spark sorts the entire input in one task. pandas semantics genuinely
    * are one global order, so the construction stays legal, but over a
    * distributed input it is the easiest way to OOM an executor at scale,
    * so warn (the duplicate-index warning pattern, SwiftIndex
    * .checkUnique). Driver-local inputs stay silent. */
  private[core] def warnIfGlobal(sw: Swift, partitionBy: Seq[String],
      what: String): Unit =
    if (partitionBy.isEmpty && !isLocalInput(sw.df)) {
      val msg =
        s"$what built without partitionBy over a distributed input — " +
          "the whole dataset sorts in ONE task; partition the window " +
          "(or pre-filter to one series) before running at scale"
      // strict mode (SwiftConfig.failOnGlobalWindow): at 100 TB a global
      // window is an executor OOM, not a slow query — fail at plan-build
      // time, before any job launches, when the user opted in
      if (sw.cfg.failOnGlobalWindow)
        throw new IllegalArgumentException(s"[swift] $msg " +
          "(failOnGlobalWindow=true)")
      Console.err.println(s"[swift] WARNING: $msg")
    }

  /** Centered count window `rolling(n, center=True)`: ⌊(n-1)/2⌋ rows
    * before through ⌊n/2⌋ rows after (pandas centering convention).
    * min_periods defaults to the window size, as pandas does for integer
    * windows (use `withMin(1)` for partial leading/trailing frames). */
  def centered(sw: Swift, window: Int, orderBy: Seq[String],
      partitionBy: Seq[String]): SwiftRolling = {
    warnIfGlobal(sw, partitionBy, s"rolling($window, center=True)")
    val base = if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*)
               else Window.partitionBy()
    val spec = base.orderBy(orderBy.map(col): _*)
      .rowsBetween(-((window - 1) / 2).toLong, (window / 2).toLong)
    new SwiftRolling(sw, spec, window)
  }

  /** A UDF over a collected window frame with an explicitly declared
    * result type (no TypeTag — the function may return Any). */
  private[core] def dynamicUdf(fn: Seq[Double] => Any, outType: DataType) =
    udf(new org.apache.spark.sql.api.java.UDF1[scala.collection.Seq[Double], Any] {
      override def call(xs: scala.collection.Seq[Double]): Any = fn(xs.toSeq)
    }, outType).asNondeterministic()

  /** Count window `rolling(n)`: n-1 preceding rows through current.
    * min_periods defaults to n (pandas default for integer windows —
    * leading partial frames yield null); `withMin(1)` restores partial
    * aggregates. */
  def counted(sw: Swift, window: Int, orderBy: Seq[String],
      partitionBy: Seq[String]): SwiftRolling = {
    warnIfGlobal(sw, partitionBy, s"rolling($window)")
    val base = if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*)
               else Window.partitionBy()
    val spec = base.orderBy(orderBy.map(col): _*)
      .rowsBetween(-(window.toLong - 1), Window.currentRow)
    new SwiftRolling(sw, spec, window)
  }

  /** pandas `expanding()`: every frame is all rows from the partition
    * start through the current row — `rowsBetween(unboundedPreceding, 0)`,
    * the native cumulative frame (still one shuffle + one sort per
    * partition key; Spark evaluates running aggregates incrementally, not
    * O(n²)). min_periods defaults to 1 like pandas. */
  def expanding(sw: Swift, orderBy: Seq[String],
      partitionBy: Seq[String]): SwiftRolling = {
    warnIfGlobal(sw, partitionBy, "expanding()")
    val base = if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*)
               else Window.partitionBy()
    val spec = base.orderBy(orderBy.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new SwiftRolling(sw, spec, 1)
  }

  /** Time window `rolling("1 hour")`: rows within the trailing duration —
    * `rangeBetween` over unix microseconds, the exact analog of a pandas
    * offset window on a DatetimeIndex. min_periods defaults to 1 (pandas
    * default for offset windows).
    *
    * `closed` picks the pandas endpoint convention, realized as ±1µs
    * nudges on the microsecond range frame:
    *   - "both"  (default): [t−d, t]
    *   - "right":           (t−d, t]
    *   - "left":            [t−d, t)  — excludes the current row's own
    *     timestamp (and any tie at exactly t)
    *   - "neither":         (t−d, t)
    * Divergence note: pandas defaults offset windows to closed="right";
    * this engine keeps "both" as the default (the inclusive frame is what
    * Spark's own rangeBetween produces and what the round-1 oracle
    * queries froze). Pass closed="right" for strict pandas parity. */
  def timed(sw: Swift, duration: String, tsCol: String,
      partitionBy: Seq[String], closed: String = "both"): SwiftRolling = {
    val micros = parseDurationMicros(duration)
    val (lo, hi) = closed match {
      case "both" => (-micros, 0L)
      case "right" => (-micros + 1, 0L)
      case "left" => (-micros, -1L)
      case "neither" => (-micros + 1, -1L)
      case other =>
        throw new IllegalArgumentException(
          s"closed must be both|right|left|neither, got '$other'")
    }
    warnIfGlobal(sw, partitionBy, s"rolling('$duration')")
    val base = if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*)
               else Window.partitionBy()
    val spec = base.orderBy(unix_micros(col(tsCol))).rangeBetween(lo, hi)
    new SwiftRolling(sw, spec, 1)
  }

  private[core] def parseDurationMicros(s: String): Long = {
    val parts = s.trim.toLowerCase.split("\\s+")
    require(parts.length == 2, s"duration must be '<n> <unit>', got '$s'")
    val n = parts(0).toLong
    val unit = parts(1).stripSuffix("s")
    val m = unit match {
      case "microsecond" => 1L
      case "millisecond" => 1000L
      case "second" => 1000000L
      case "minute" => 60L * 1000000L
      case "hour" => 3600L * 1000000L
      case "day" => 86400L * 1000000L
      case "week" => 7L * 86400L * 1000000L
      case other => throw new IllegalArgumentException(s"unknown unit '$other'")
    }
    n * m
  }
}

/** O6 — `swifter.resample(rule).apply` (swifter/swifter.py:174-220,
  * 766-824): time-bucket downsampling. Buckets are Spark `window(ts,
  * rule)` tumbling windows (= pandas fixed-frequency bins, label=left);
  * built-in reducers stay native aggregates with map-side partials, and
  * arbitrary functions go through `flatMapGroups` on the bucket.
  *
  * Deliberately ABSENT resample kwargs (the reference forwards them but
  * pandas itself deprecated/removed all three): `loffset` (removed in
  * pandas 2.0 — shift the OUTPUT's `bucket` column instead), `kind`
  * (removed — the bucket label is always a timestamp here; cast it for a
  * period-like view) and `convention` (deprecated — only affected
  * upsampling from period indexes, which this engine does not model).
  */
final class SwiftResample(sw: Swift, rule: String, tsCol: String,
    label: String = "left", offsetMicros: Long = 0L,
    partitionBy: Seq[String] = Nil, closed: String = "left") {

  /** pandas `label='left'|'right'`: bucket labeled by bin start or end. */
  def withLabel(l: String): SwiftResample = {
    require(l == "left" || l == "right", s"label must be left|right, got $l")
    new SwiftResample(sw, rule, tsCol, l, offsetMicros, partitionBy, closed)
  }

  /** pandas `closed='left'|'right'`: which bin edge is inclusive.
    * Default `left` — bins [S, S+rule), Spark `window()`'s own
    * convention and the pandas default for most rules. `right` — bins
    * (S, S+rule], so a value exactly ON a boundary joins the EARLIER
    * bin: realized as the same ±1µs endpoint nudge as rolling-time
    * `closed=` ([[SwiftRolling.timed]]) — bucket assignment shifts the
    * timestamp back 1µs (timestamps are integer microseconds, so
    * t ∈ (S, S+rule] ⇔ t−1µs ∈ [S, S+rule)), while the bucket LABEL is
    * unaffected (the shifted window's start IS the true bin start). */
  def withClosed(c: String): SwiftResample = {
    require(c == "left" || c == "right", s"closed must be left|right, got $c")
    new SwiftResample(sw, rule, tsCol, label, offsetMicros, partitionBy, c)
  }

  /** pandas `offset=`: shift bucket boundaries by a duration (e.g.
    * resample("1 day").withOffset("6 hours") buckets [06:00, 06:00+1d)).
    * Maps to Spark `window(ts, rule, rule, startTime)` — the native
    * boundary-origin parameter; no extra shuffle or projection. */
  def withOffset(dur: String): SwiftResample =
    new SwiftResample(sw, rule, tsCol, label,
      SwiftRolling.parseDurationMicros(dur), partitionBy, closed)

  /** pandas `origin=`: align buckets so `ts` (an ISO timestamp string,
    * e.g. "1970-01-03 06:00:00") is a bucket boundary. Reduces to the
    * offset form: origin mod rule. */
  def withOrigin(ts: String): SwiftResample = {
    val originUs = java.time.LocalDateTime
      .parse(ts.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val ruleUs = SwiftRolling.parseDurationMicros(rule)
    val off = ((originUs % ruleUs) + ruleUs) % ruleUs
    new SwiftResample(sw, rule, tsCol, label, off, partitionBy, closed)
  }

  /** pandas `groupby(keys).resample(rule)`: additional grouping keys in
    * front of the time bucket — still ONE shuffle on (keys, bucket) with
    * map-side partial aggregation. */
  def by(keys: String*): SwiftResample =
    new SwiftResample(sw, rule, tsCol, label, offsetMicros, keys.toSeq, closed)

  private def bucketed: DataFrame = {
    val tsForBin =
      if (closed == "right") col(tsCol) - expr("INTERVAL 1 MICROSECOND")
      else col(tsCol)
    val w =
      if (offsetMicros == 0L) window(tsForBin, rule)
      else window(tsForBin, rule, rule, s"$offsetMicros microseconds")
    val lbl = if (label == "right") w.getField("end") else w.getField("start")
    sw.df.withColumn("__bucket", lbl)
  }

  private def groupCols: Seq[Column] =
    partitionBy.map(col) :+ col("__bucket").as("bucket")

  /** Built-in aggregates per bucket; output column `bucket` = bin start. */
  def agg(exprs: Column*): DataFrame = {
    bucketed.groupBy(groupCols: _*)
      .agg(exprs.head, exprs.tail: _*)
  }

  /** pandas `resample(rule).agg(...).ffill()`: the per-bucket aggregate
    * with MISSING buckets materialized and forward-filled. The bucket
    * spine is `sequence(min, max, rule)` exploded from a 1-row aggregate
    * — no driver loop — left-joined to the populated buckets; the fill
    * is `last(value, ignoreNulls)` over the bucket order. Output:
    * (bucket, `out` = filled aggregate, n = rows in bucket, 0 for
    * generated gap buckets).
    *
    * Single-series form: the fill window is one global partition, fine
    * because it runs over BUCKETS (post-aggregation — thousands of rows,
    * not the raw events); a per-key gap-fill at scale would carry the
    * series key in both the spine and the window partition. */
  def aggFfill(aggExpr: Column, out: String,
      post: Column => Column = identity): DataFrame = {
    require(partitionBy.isEmpty,
      "ffill is the single-series form; partition per series upstream")
    val base = bucketed.groupBy(col("__bucket").as("bucket"))
      .agg(post(aggExpr).as("__v"), count(lit(1)).as("__n"))
    val spine = base.agg(min(col("bucket")).as("__mn"), max(col("bucket")).as("__mx"))
      .select(explode(expr(s"sequence(__mn, __mx, interval $rule)")).as("bucket"))
    val wOrd = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(base, Seq("bucket"), "left")
      .withColumn(out, last(col("__v"), ignoreNulls = true).over(wOrd))
      .withColumn("n", coalesce(col("__n"), lit(0L)))
      .select(col("bucket"), col(out), col("n"))
  }

  /** pandas `resample(rule).agg(...).bfill()` — the backward twin of
    * [[aggFfill]]: gap buckets take the NEXT populated bucket's value
    * (a `first` ignoreNulls over the unbounded-FOLLOWING frame). Same
    * single-series window note as [[aggFfill]]. */
  def aggBfill(aggExpr: Column, out: String,
      post: Column => Column = identity): DataFrame = {
    require(partitionBy.isEmpty,
      "bfill is the single-series form; partition per series upstream")
    val base = bucketed.groupBy(col("__bucket").as("bucket"))
      .agg(post(aggExpr).as("__v"), count(lit(1)).as("__n"))
    val spine = base.agg(min(col("bucket")).as("__mn"), max(col("bucket")).as("__mx"))
      .select(explode(expr(s"sequence(__mn, __mx, interval $rule)")).as("bucket"))
    val wOrd = Window.orderBy(col("bucket"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(base, Seq("bucket"), "left")
      .withColumn(out, first(col("__v"), ignoreNulls = true).over(wOrd))
      .withColumn("n", coalesce(col("__n"), lit(0L)))
      .select(col("bucket"), col(out), col("n"))
  }

  /** pandas `resample(rule).agg(...).interpolate()` (linear): like
    * [[aggFfill]] but gap buckets get the LINEAR interpolation between
    * the surrounding populated buckets:
    * `prev + (next − prev) · (t − tPrev)/(tNext − tPrev)`, with the time
    * ratio computed on exact BIGINT microseconds. The spine's endpoints
    * are populated by construction (min/max come from the data), so
    * every gap has both neighbors. Same single-series window note as
    * [[aggFfill]]. */
  def aggInterpolate(aggExpr: Column, out: String,
      post: Column => Column = identity): DataFrame = {
    require(partitionBy.isEmpty,
      "interpolate is the single-series form; partition per series upstream")
    val base = bucketed.groupBy(col("__bucket").as("bucket"))
      .agg(post(aggExpr).as("__v"), count(lit(1)).as("__n"))
    val spine = base.agg(min(col("bucket")).as("__mn"), max(col("bucket")).as("__mx"))
      .select(explode(expr(s"sequence(__mn, __mx, interval $rule)")).as("bucket"))
    val bUs = unix_micros(col("bucket"))
    val back = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.orderBy(col("bucket"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prevV = last(col("__v"), ignoreNulls = true).over(back)
    val prevT = last(when(col("__v").isNotNull, bUs), ignoreNulls = true).over(back)
    val nextV = first(col("__v"), ignoreNulls = true).over(fwd)
    val nextT = first(when(col("__v").isNotNull, bUs), ignoreNulls = true).over(fwd)
    val interp = prevV + (nextV - prevV) *
      ((bUs - prevT).cast("double") / (nextT - prevT).cast("double"))
    spine.join(base, Seq("bucket"), "left")
      .withColumn(out, when(col("__v").isNotNull, col("__v")).otherwise(interp))
      .withColumn("n", coalesce(col("__n"), lit(0L)))
      .select(col("bucket"), col(out), col("n"))
  }

  /** Arbitrary per-bucket function over the bucket's values. */
  def apply(valueCol: String, out: String, outType: DataType)(
      fn: Seq[Double] => Any): DataFrame = {
    val theUdf = SwiftRolling.dynamicUdf(fn, outType)
    bucketed.groupBy(groupCols: _*)
      .agg(collect_list(col(valueCol)).as("__vals"))
      .withColumn(out, theUdf(col("__vals")))
      .drop("__vals")
  }
}
