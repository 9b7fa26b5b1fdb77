package graft.core

/** K9 — engine configuration (reference: swifter/base.py:55-64,
  * swifter/swifter.py:99-138 setters; defaults swifter/swifter.py:23-31,
  * base.py:21-22,60).
  *
  * Divergences from the reference, on purpose:
  *  - no K4 string guard: the reference's `allow_dask_on_strings`
  *    (swifter/swifter.py:303) exists because Dask's process scheduler
  *    pickles Python string objects; Spark's Tungsten UTF8String has no
  *    such cliff (SURVEY.md §4.2), so strings route like any other type.
  *  - the driver-local route runs only on rows already on the driver: in
  *    the reference all data is in driver memory, so "local" is free; here
  *    it is taken only when the selector's one-job preview holds every row
  *    (n <= `sampleSize`) and n <= `localMaxRows`. A larger input is never
  *    collected for it.
  */
final case class SwiftConfig(
    /** Target partition count for the parallel path. None = leave the
      * input's partitioning alone and let AQE size the shuffle
      * (reference default cpu_count()*2, base.py:60). */
    npartitions: Option[Int] = None,
    /** K3 — estimated full-run seconds above which the parallel
      * (cluster) path is chosen (reference dask_threshold=1s,
      * swifter/swifter.py:23). */
    thresholdSec: Double = 1.0,
    /** K1 — probe sample size (reference SAMPLE_SIZE=1000, base.py:21),
      * and the most rows the preview holds, so also the largest input the
      * driver-local route takes. */
    sampleSize: Int = 1000,
    /** K1 — seed for the random probe draw (reference draws random sorted
      * positions, base.py:46-47); fixed so selector decisions reproduce. */
    sampleSeed: Long = 42L,
    /** K3 — timing repeats (reference N_REPEATS=3, base.py:22). */
    nRepeats: Int = 3,
    /** K9 — bypass the selector entirely (swifter/swifter.py:131-138). */
    forceParallel: Boolean = false,
    /** Upper bound on rows for the driver-local route (see note above);
      * 0 turns the route off ([[SwiftParallel]]). */
    localMaxRows: Long = 100000L,
    /** O4 — groupBy stays local at or below this many rows (reference
      * GROUPBY_MAX_ROWS_PANDAS_DEFAULT=5000, swifter/swifter.py:31). */
    groupbyLocalMaxRows: Long = 5000L,
    /** Strict mode for unpartitioned windows: a rolling/ewm/expanding
      * window built WITHOUT `partitionBy` over a distributed input sorts
      * the whole dataset in ONE task — at 100 TB that is an executor OOM,
      * not a slow query. Default false preserves the pandas-parity
      * behavior (warn on stderr, proceed — small frames are legitimate);
      * true turns the warning into an [[IllegalArgumentException]] at
      * plan-build time, BEFORE any job is launched. */
    failOnGlobalWindow: Boolean = false,
    /** K6 — pandas `Series.apply(convert_dtype=)`
      * (swifter/swifter.py:287, pandas passthrough at 225-237). True
      * (default): infer the result DataType from the probe sample. False:
      * skip inference — an explicitly declared type is used as-is, and an
      * undeclared dynamic result becomes an opaque STRING column (the
      * Spark analog of pandas leaving dtype=object: values keep a
      * faithful rendering, the engine makes no typing guess). */
    convertDtype: Boolean = true
)

/** The physical strategy the selector (SURVEY.md §2.2) committed to. */
sealed trait SwiftStrategy
object SwiftStrategy {
  /** K2 won: whole-column Catalyst expression, whole-stage codegen. */
  case object Vectorized extends SwiftStrategy
  /** Distributed row-at-a-time UDF / typed map on the cluster. */
  case object Parallel extends SwiftStrategy
  /** Driver-local execution over a LocalRelation (tiny inputs). */
  case object Local extends SwiftStrategy
}

/** What the K2 probe found for one call. */
sealed trait SwiftProbe
object SwiftProbe {
  /** No candidate was probed: the call gave none, or fixed its route
    * before K2 (`forceParallel`, an empty input). */
  case object NoCandidate extends SwiftProbe
  /** The candidate matched the row function on every sampled row. */
  case object Accepted extends SwiftProbe
  /** The candidate differed from the row function on some sampled row. */
  case object Mismatch extends SwiftProbe
  /** Evaluating the candidate on the sample threw `exceptionClass`. */
  final case class Threw(exceptionClass: String) extends SwiftProbe
}

/** One selector decision, carried on the plan of the Dataset the call
  * returned; read it with [[Swift.decisions]].
  *
  * @param n      input row count; None when the route was fixed before the
  *               preview ran (`forceParallel`)
  * @param estSec K3's extrapolated driver time; None when K3 did not run
  */
final case class SwiftDecision(route: SwiftStrategy, probe: SwiftProbe, n: Option[Long],
    estSec: Option[Double])

object SwiftDecision {
  /** Parallel, fixed before the preview ran (`forceParallel`, or
    * `applymap` without a candidate): no n, no probe. */
  val fixedParallel: SwiftDecision = SwiftDecision(SwiftStrategy.Parallel, SwiftProbe.NoCandidate, None, None)
}
