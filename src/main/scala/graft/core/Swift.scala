package graft.core

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.{TypeTag, typeOf}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The adaptive-apply accessor — Spark-native re-expression of
  * `df.swifter` (reference accessors swifter/swifter.py:223-224,332-333).
  *
  * For a user function the engine picks, per call, the fastest of three
  * physical strategies (SURVEY.md §2.2):
  *   1. Vectorized — a whole-column Catalyst expression (whole-stage
  *      codegen); chosen when the caller supplies a columnar candidate and
  *      the K2 probe validates it against the row function on a sample.
  *   2. Parallel — distributed row-at-a-time UDF / typed map.
  *   3. Local — driver-local execution over a LocalRelation for inputs
  *      too small to be worth a cluster job (K3 cost model).
  *
  * A choosing call runs one K2 probe, then the K3 estimate and the Local
  * rule ([[SwiftPreview]]), and puts the resulting [[SwiftDecision]] on
  * the returned Dataset's plan ([[Swift.decisions]]). Methods with a
  * fixed route (windows, aggregates, projections) record nothing.
  *
  * The selection must be observationally invisible (SURVEY.md §1.4): every
  * strategy returns the same rows. Row order is NOT part of the contract —
  * Spark DataFrames are unordered; callers that need the pandas index
  * semantics thread an explicit index column and `orderBy` it at
  * materialization (SURVEY.md §7.4.2).
  */
object Swift {
  /** Handle with the process-wide defaults (K9 set_defaults analog). */
  def apply(df: DataFrame): Swift = new Swift(df, SwiftDefaults.get)
  def apply(df: DataFrame, cfg: SwiftConfig): Swift = new Swift(df, cfg)

  private val DecisionTag = TreeNodeTag[SwiftDecision]("swift.decision")

  /** Puts `d` on `ds`'s analyzed plan. Datasets built on top of `ds`
    * (select, filter, repartition) keep that node, and the tag. */
  private[core] def record[D <: Dataset[_]](ds: D, d: SwiftDecision): D = {
    ds.queryExecution.analyzed.setTagValue(DecisionTag, d)
    ds
  }

  /** The selector decisions `ds` was built from, inputs before outputs:
    * one per choosing call (`applyScalar`, `applyRows`, `applymap`,
    * `SwiftTyped.apply`, `SwiftGroupBy.apply`) in its plan. */
  def decisions(ds: Dataset[_]): Seq[SwiftDecision] =
    ds.queryExecution.analyzed.flatMap(_.getTagValue(DecisionTag)).reverse

  /** Exact probe-equality: reference uses np.array_equal
    * (swifter/swifter.py:313-316). Integral values compare by exact long
    * equality and decimals by compareTo — widening everything to double
    * would make distinct Long/Decimal values beyond 2^53 compare equal,
    * letting the K2 probe certify a candidate that differs from the
    * row function. Only true floating types compare by double bits. */
  private[core] def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Number, y: Number) =>
      def isIntegral(n: Number): Boolean = n match {
        case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
             _: java.lang.Long => true
        case _ => false
      }
      def asBig(n: Number): Option[java.math.BigDecimal] = n match {
        case d: java.math.BigDecimal => Some(d)
        case d: scala.math.BigDecimal => Some(d.bigDecimal)
        case i: java.math.BigInteger => Some(new java.math.BigDecimal(i))
        case i: scala.math.BigInt => Some(new java.math.BigDecimal(i.bigInteger))
        case n if isIntegral(n) => Some(java.math.BigDecimal.valueOf(n.longValue()))
        case _ => None // true floating type
      }
      (asBig(x), asBig(y)) match {
        case (Some(u), Some(v)) => u.compareTo(v) == 0
        case _ =>
          java.lang.Double.doubleToLongBits(x.doubleValue()) ==
            java.lang.Double.doubleToLongBits(y.doubleValue())
      }
    case (x: Seq[_], y: Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (u, v) => sameValue(u, v) }
    case (x, y) => x == y
  }

  private[core] def sameValues(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => sameValue(x, y) }

  private[core] def normalizeForRow(v: Any): Any = v match {
    case a: Array[_] => a.toSeq
    case other => other
  }
}

final class Swift(val df: DataFrame, val cfg: SwiftConfig) {
  private def spark: SparkSession = df.sparkSession
  private def withCfg(c: SwiftConfig): Swift = new Swift(df, c)

  // ---- K9 fluent configuration (swifter/swifter.py:99-138) ----
  def npartitions(n: Int): Swift = withCfg(cfg.copy(npartitions = Some(n)))
  def threshold(sec: Double): Swift = withCfg(cfg.copy(thresholdSec = sec))
  def forceParallel(b: Boolean = true): Swift = withCfg(cfg.copy(forceParallel = b))
  def sampleSize(n: Int): Swift = withCfg(cfg.copy(sampleSize = n))
  def sampleSeed(n: Long): Swift = withCfg(cfg.copy(sampleSeed = n))
  /** K6 — pandas `convert_dtype=` (see [[SwiftConfig.convertDtype]]). */
  def convertDtype(b: Boolean): Swift = withCfg(cfg.copy(convertDtype = b))
  /** Strict mode: throw instead of warn when a rolling/ewm window is
    * built without partitionBy (see [[SwiftConfig.failOnGlobalWindow]]). */
  def failOnGlobalWindow(b: Boolean = true): Swift =
    withCfg(cfg.copy(failOnGlobalWindow = b))

  @volatile private var previewRan = false

  /** The selector's one look at the input: row count and K1 sample from a
    * single Spark job ([[SwiftPreview]]). Lazy, so forced and count-only
    * calls never run it. */
  private lazy val preview: SwiftPreview = {
    val p = SwiftPreview(df.queryExecution, cfg.sampleSize, cfg.sampleSeed)
    previewRan = true
    p
  }

  /** Row count. Free once the selector's preview has run; otherwise one
    * counting job over the column-pruned input, with no exchange. */
  lazy val nrows: Long = if (previewRan) preview.n else SwiftPreview.count(df)

  private def toRows(rows: Array[InternalRow]): Array[Row] = {
    val fromInternal = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    rows.map(fromInternal)
  }

  /** K1 — min(sampleSize, ceil(n/25)) rows drawn uniformly at random
    * without replacement (base.py:21,46-47); see [[SwiftPreview]]. */
  private[graft] def sampleRows(): Array[Row] = toRows(preview.sample)

  /** The Local route's input: every row, already held by the preview
    * (taken only under [[SwiftPreview.runsLocal]]). */
  private def localInput: DataFrame = localDf(toRows(preview.rows).toSeq, df.schema)

  private def localDf(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def finish(out: DataFrame, d: SwiftDecision): DataFrame =
    Swift.record(cfg.npartitions.fold(out)(out.repartition), d)

  /** A decision with the preview's row count. */
  private def decided(route: SwiftStrategy, probe: SwiftProbe,
      estSec: Option[Double] = None): SwiftDecision =
    SwiftDecision(route, probe, Some(preview.n), estSec)

  /** K2 — the candidate `vec` over the sample (as a LocalRelation) against
    * `oracle`, the row function's results on the same rows
    * (swifter/swifter.py:309-317). */
  private def probe(sample: Array[Row], vec: Column, oracle: Seq[Any]): SwiftProbe =
    try {
      val got = Progress.suppressed {
        localDf(sample.toSeq, df.schema).select(vec).collect().toSeq.map(_.get(0))
      }
      if (Swift.sameValues(got, oracle)) SwiftProbe.Accepted else SwiftProbe.Mismatch
    } catch { case e: Exception => SwiftProbe.Threw(e.getClass.getName) }

  /** The route for a row function `rowFn` with an optional candidate: K2
    * probes the candidate; failing that, K3 times `rowFn` over the sample
    * and the Local rule picks Local or Parallel. `oracle` is `rowFn` over
    * `sample` (K7: computed with output suppressed). */
  private def choose(sample: Array[Row], rowFn: Row => Any, oracle: Seq[Any],
      vectorized: Option[Column]): SwiftDecision = {
    val k2 = vectorized.fold[SwiftProbe](SwiftProbe.NoCandidate)(probe(sample, _, oracle))
    if (k2 == SwiftProbe.Accepted) return decided(SwiftStrategy.Vectorized, k2)
    val estSec = preview.estimateSec(cfg.nRepeats)(Progress.suppressed { sample.foreach(rowFn) })
    val route = if (preview.runsLocal(estSec, cfg)) SwiftStrategy.Local else SwiftStrategy.Parallel
    decided(route, k2, Some(estSec))
  }

  /** `rowFn` on column `idx` of a row, as `functions.udf(rowFn)` applies
    * it: a null input of a primitive type gives null without calling
    * `rowFn` (an unboxed null would reach it as 0). */
  private def scalarOn[T: TypeTag](idx: Int, rowFn: T => Any): Row => Any = {
    val nullGivesNull = typeOf[T] <:< typeOf[AnyVal]
    r => if (nullGivesNull && r.isNullAt(idx)) null else rowFn(r.getAs[T](idx))
  }

  // =====================================================================
  // O1 — Series.swifter.apply (swifter/swifter.py:287-329)
  // =====================================================================

  /** Element-wise apply of `rowFn` to column `colName`, result in `out`.
    * `vectorized` is the optional columnar candidate — the Scala analog of
    * numpy duck-broadcasting (SURVEY.md §7.4.1): a `T => U` cannot be
    * re-typed to `Column => Column`, so the columnar form is supplied and
    * *validated* on a sample instead.
    */
  def applyScalar[T: TypeTag, U: TypeTag](colName: String, out: String)(
      rowFn: T => U,
      vectorized: Option[Column] = None): DataFrame = {
    val theUdf = udf(rowFn)
    def udfOver(in: DataFrame): DataFrame = in.withColumn(out, theUdf(col(colName)))
    if (cfg.forceParallel) return finish(udfOver(df), SwiftDecision.fixedParallel)
    // empty input short-circuits to the naive path (swifter/swifter.py:292-294)
    if (preview.n == 0)
      return finish(udfOver(df), decided(SwiftStrategy.Parallel, SwiftProbe.NoCandidate))

    val sample = sampleRows()
    val onRow = scalarOn(df.schema.fieldIndex(colName), rowFn)
    // driver oracle = row-at-a-time result on the sample (K7: suppressed)
    val oracle: Seq[Any] = Progress.suppressed { sample.toSeq.map(onRow) }
    val d = choose(sample, onRow, oracle, vectorized)
    finish(d.route match {
      case SwiftStrategy.Vectorized => df.withColumn(out, vectorized.get)
      // the same plan over a LocalRelation: one in-memory partition, no scan
      case SwiftStrategy.Local => udfOver(localInput)
      case SwiftStrategy.Parallel => udfOver(df)
    }, d)
  }

  // =====================================================================
  // O2 — DataFrame.swifter.apply(axis=1) (swifter/swifter.py:400-437)
  // =====================================================================

  /** Row-wise apply: `rowFn` sees the whole row; result column `out`.
    * Output type comes from K6 sample inference unless `outType` is given
    * (the Dask-`meta` analog). `vectorized` is the columnar candidate.
    * `resultType` shapes list-like results per pandas `result_type`
    * (docs/documentation.md:103-108): Expand → one column per element,
    * Reduce → ArrayType column, Broadcast → elements written back over the
    * original columns.
    */
  def applyRows(out: String)(
      rowFn: Row => Any,
      vectorized: Option[Column] = None,
      outType: Option[DataType] = None,
      resultType: ResultType = ResultType.NoShape): DataFrame = {
    val base = applyRowsRaw(out, rowFn, vectorized, outType)
    shapeResult(base, out, resultType)
  }

  private def applyRowsRaw(out: String, rawRowFn: Row => Any,
      vectorized: Option[Column], outType: Option[DataType]): DataFrame = {
    // K6 convert_dtype=False with no declared type: no inference — the
    // result is an opaque string rendering (pandas object-dtype analog)
    val opaque = !cfg.convertDtype && outType.isEmpty
    val rowFn: Row => Any =
      if (!opaque) rawRowFn
      else r => { val v = rawRowFn(r); if (v == null) null else v.toString }
    // forced, and the result type needs no sample: no preview
    if (cfg.forceParallel && (outType.isDefined || opaque)) {
      val dt = outType.getOrElse(StringType)
      return finish(mapRowsDistributed(df, out, rowFn, dt), SwiftDecision.fixedParallel)
    }
    if (preview.n == 0) {
      val dt = outType.getOrElse(if (opaque) StringType else NullType)
      return finish(mapRowsDistributed(df, out, rowFn, dt),
        decided(SwiftStrategy.Parallel, SwiftProbe.NoCandidate))
    }
    val sample = sampleRows()
    val oracle: Seq[Any] = Progress.suppressed { sample.toSeq.map(rowFn) }
    val dt = outType.getOrElse(if (opaque) StringType else TypeInfer.of(oracle))

    val d =
      if (cfg.forceParallel) decided(SwiftStrategy.Parallel, SwiftProbe.NoCandidate)
      else choose(sample, rowFn, oracle, vectorized)
    finish(d.route match {
      case SwiftStrategy.Vectorized => df.withColumn(out, vectorized.get)
      case SwiftStrategy.Local => mapRowsDistributed(localInput, out, rowFn, dt)
      case SwiftStrategy.Parallel => mapRowsDistributed(df, out, rowFn, dt)
    }, d)
  }

  /** Distributed row map with a dynamic output schema: typed Dataset map
    * under `Encoders.row` — the Spark-idiomatic equivalent of a row UDF
    * without TypeTag gymnastics. */
  private def mapRowsDistributed(in: DataFrame, out: String, rowFn: Row => Any,
      dt: DataType): DataFrame = {
    val outSchema = in.schema.add(StructField(out, dt, nullable = true))
    val enc = Encoders.row(outSchema)
    // NB: the lambda must only capture `rowFn` and `out` — not `this`
    // (Swift holds the non-serializable DataFrame).
    val fn = rowFn
    in.map { r => Row.fromSeq(r.toSeq :+ Swift.normalizeForRow(fn(r))) }(enc)
  }

  /** pandas result_type shaping on top of an array-typed result column. */
  private def shapeResult(base: DataFrame, out: String, rt: ResultType): DataFrame = rt match {
    case ResultType.NoShape | ResultType.Reduce => base
    case ResultType.Expand(names) =>
      val arr = col(out)
      val cols = base.columns.filterNot(_ == out).map(col) ++
        names.zipWithIndex.map { case (n, i) => element_at(arr, i + 1).as(n) }
      base.select(cols.toIndexedSeq: _*)
    case ResultType.Broadcast =>
      // result elements replace the original columns positionally
      val orig = base.columns.filterNot(_ == out)
      val cols = orig.zipWithIndex.map { case (n, i) =>
        element_at(col(out), i + 1).as(n)
      }
      base.select(cols.toIndexedSeq: _*)
  }

  /** Automatic vectorization for row functions written in the restricted
    * [[SwiftExpr]] AST (SURVEY §7.4.1's "small translator"): ONE term
    * yields both the row-at-a-time function and the columnar candidate,
    * which still flows through the K2 sample probe — a translator defect
    * degrades to the UDF path, never to wrong results. */
  def applyExpr(out: String)(term: SwiftExpr): DataFrame =
    applyRows(out)(
      r => term.eval(r),
      vectorized = Some(term.column),
      outType = Some(DoubleType))

  /** O2 `raw=True` analog (swifter/swifter.py:400): the row function sees
    * a plain Seq[Double] of the selected columns — the ndarray-row fast
    * path, no per-element name lookup. Routed through the ordinary O1
    * selector on a packed array column, whose decision the result keeps. */
  def applyRawNumeric(cols: Seq[String], out: String)(
      fn: Seq[Double] => Double,
      vectorized: Option[Column] = None): DataFrame = {
    val tmp = "__swift_raw"
    val withArr = df.withColumn(tmp, array(cols.map(c => col(c).cast("double")): _*))
    // collection.Seq: Spark materializes array columns as mutable.ArraySeq,
    // which is not a scala.collection.immutable.Seq in 2.13
    new Swift(withArr, cfg).applyScalar[scala.collection.Seq[Double], Double](tmp, out)(
      xs => fn(xs.toSeq), vectorized).drop(tmp)
  }

  /** Scheduler knob for API parity with `set_dask_scheduler`
    * (swifter/swifter.py:107-113): Spark has no threads-vs-processes
    * choice to make — the cluster manager owns placement — so this logs
    * and returns the handle unchanged (documented no-op). */
  def setScheduler(name: String): Swift = {
    Console.err.println(
      s"[swift] set_scheduler('$name') is a no-op on Spark: task placement " +
        "is the cluster manager's job (kept for reference API parity)")
    this
  }

  // =====================================================================
  // O2 axis=0 — column-wise apply: per-column aggregate
  // (parallel path intentionally absent, mirroring swifter/swifter.py:434)
  // =====================================================================

  /** Apply the same aggregate to every listed column; single-row result
    * with one output column per input column. */
  def applyColumns(cols: Seq[String])(aggFn: Column => Column,
      suffix: String = ""): DataFrame = {
    df.agg(
      aggFn(col(cols.head)).as(cols.head + suffix),
      cols.tail.map(c => aggFn(col(c)).as(c + suffix)): _*)
  }

  /** The literal pandas `df.apply(func, axis=0)`: an OPAQUE whole-column
    * `Seq[Any] => Any` per column. A black-box column function can't be
    * partially aggregated, and the reference never parallelizes axis=0
    * either (swifter/swifter.py:434 gates the Dask path on axis==1) — so
    * this is faithfully a DRIVER-LOCAL route (K3's local leg), with a
    * hard row guard: past `maxRows` the caller must express the function
    * as a Column aggregate ([[applyColumns]]) for distributed execution.
    * Result: one row, one output column per input column, types inferred
    * from the computed values (K6). */
  def applyColumnsLocal(cols: Seq[String], maxRows: Long = 10000000L)(
      fn: Seq[Any] => Any): DataFrame = {
    require(nrows <= maxRows,
      s"applyColumnsLocal is driver-local (the reference never parallelizes " +
      s"axis=0); input has $nrows rows > maxRows=$maxRows — express the " +
      "function as a Column aggregate via applyColumns to run distributed")
    val rows = df.select(cols.map(col).toIndexedSeq: _*).collect()
    val outVals = cols.indices.map(i => fn(rows.toIndexedSeq.map(_.get(i))))
    val schema = StructType(cols.zipWithIndex.map { case (c, i) =>
      StructField(c, TypeInfer.of(Seq(outVals(i))), nullable = true)
    }.toIndexedSeq)
    df.sparkSession.createDataFrame(
      java.util.List.of(Row.fromSeq(outVals)), schema)
  }

  // =====================================================================
  // O3 — DataFrame.swifter.applymap (swifter/swifter.py:483-521)
  // =====================================================================

  /** Same scalar function applied to every element of every listed column
    * (default: all columns). The selector probes the vectorized candidate
    * once on the first column (columns share the dtype contract, as in
    * pandas applymap) and fans the winner out per column — one codegen'd
    * expression per column, a single projection, no shuffle. */
  def applymap[T: TypeTag, U: TypeTag](rowFn: T => U,
      vectorized: Option[Column => Column] = None,
      columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val theUdf = udf(rowFn)
    def project(mk: Column => Column): DataFrame =
      df.select(df.columns.toIndexedSeq.map { c =>
        if (cols.contains(c)) mk(col(c)).as(c) else col(c)
      }: _*)

    // without a candidate there is nothing to probe: Parallel, no preview
    if (cfg.forceParallel || vectorized.isEmpty)
      return finish(project(theUdf(_)), SwiftDecision.fixedParallel)
    if (preview.n == 0)
      return finish(project(theUdf(_)), decided(SwiftStrategy.Parallel, SwiftProbe.NoCandidate))

    // no Local route here, so no K3: the probe alone picks the route
    val vec = vectorized.get
    val sample = sampleRows()
    val onRow = scalarOn(df.schema.fieldIndex(cols.head), rowFn)
    val oracle = Progress.suppressed { sample.toSeq.map(onRow) }
    val k2 = probe(sample, vec(col(cols.head)), oracle)
    if (k2 == SwiftProbe.Accepted) finish(project(vec), decided(SwiftStrategy.Vectorized, k2))
    else finish(project(theUdf(_)), decided(SwiftStrategy.Parallel, k2))
  }

  // =====================================================================
  // O4 / O5 / O6 entry points (implementations in SwiftGroupBy/Windows)
  //
  // PARTITIONING CONTRACT for every O5/O6 window entry point below: an
  // empty `partitionBy` on a distributed (non-LocalRelation) input puts
  // the WHOLE dataset in one window partition — one task sorts
  // everything, which at cluster scale is an executor OOM, not a slow
  // query. The plan still executes (a global order is legitimate on
  // pandas-sized data) but SwiftRolling.warnIfGlobal warns on stderr;
  // pass `partitionBy=` for anything bigger than one executor's memory.
  // =====================================================================

  /** O4 — groupBy(...).apply(func) (swifter/swifter.py:523-639). */
  def groupBy(by: String*): SwiftGroupBy = new SwiftGroupBy(this, by.toSeq, None)

  /** O4 — grouping BY THE INDEX, the reference's
    * `df.swifter.groupby(df.index)` form (swifter/swifter.py:579, tests
    * swifter_tests.py:801-813). Under the explicit-index convention
    * (SURVEY §1.1 / [[SwiftIndex]]) the pandas index is a column, so
    * this is groupBy on that column; when the frame does not carry one
    * yet, a stable 0-based row index is attached first (each row then
    * forms its own group — exactly pandas groupby(df.index) on a unique
    * RangeIndex). */
  def groupByIndex(indexCol: String = "index"): SwiftGroupBy = {
    val base =
      if (df.columns.contains(indexCol)) this
      else new Swift(SwiftIndex.withRowIndex(df, indexCol), cfg)
    new SwiftGroupBy(base, Seq(indexCol), None)
  }

  /** O5 — rolling count-window (swifter/swifter.py:140-172,710-763);
    * `center=true` uses the pandas centering convention. */
  def rolling(window: Int, orderBy: Seq[String], partitionBy: Seq[String] = Nil,
      center: Boolean = false): SwiftRolling =
    if (center) SwiftRolling.centered(this, window, orderBy, partitionBy)
    else SwiftRolling.counted(this, window, orderBy, partitionBy)

  /** O5 — rolling time-offset window, e.g. "1 hour" over a timestamp.
    * `closed` = both|right|left|neither picks the pandas endpoint
    * convention (see SwiftRolling.timed for the frame mapping). */
  def rollingTime(duration: String, tsCol: String, partitionBy: Seq[String] = Nil,
      closed: String = "both"): SwiftRolling =
    SwiftRolling.timed(this, duration, tsCol, partitionBy, closed)

  /** O5 — pandas `rolling(n, on=col)`: the window walks a named data
    * column instead of the index. (For time windows, [[rollingTime]]'s
    * `tsCol` IS the `on=` column.) */
  def rollingOn(window: Int, on: String, partitionBy: Seq[String] = Nil,
      center: Boolean = false): SwiftRolling =
    rolling(window, Seq(on), partitionBy, center)

  /** O5 — pandas `rolling(n, win_type=...)`: weighted window mean
    * (swifter/swifter.py:140-172 passes win_type through). Supported
    * shapes: triang, boxcar, gaussian (`std` is the gaussian width, the
    * scipy `.mean(std=)` parameter) — see [[SwiftRollingWeighted.weights]]. */
  def rollingWeighted(window: Int, winType: String, orderBy: Seq[String],
      partitionBy: Seq[String] = Nil, std: Double = 0.0): SwiftRollingWeighted =
    SwiftRollingWeighted.counted(this, window, winType, orderBy, partitionBy, std)

  /** O5 — pandas `expanding()`: cumulative (unbounded-preceding) frames.
    * min_periods defaults to 1, the pandas default. */
  def expanding(orderBy: Seq[String], partitionBy: Seq[String] = Nil): SwiftRolling =
    SwiftRolling.expanding(this, orderBy, partitionBy)

  /** O5 — pandas `ewm(alpha=...)` (adjust=True): exponentially weighted
    * mean with micro-quantized weights, realized as a bounded window —
    * the quantized decay tail is exactly zero past ~⌈6·ln10 / α⌉ rows,
    * so no unbounded frame. See [[SwiftEwm]] for the determinism story. */
  def ewm(alpha: Double, orderBy: Seq[String],
      partitionBy: Seq[String] = Nil): SwiftEwm =
    SwiftEwm.counted(this, alpha, orderBy, partitionBy)

  private def lagSpec(orderBy: Seq[String], partitionBy: Seq[String]) = {
    val base =
      if (partitionBy.nonEmpty)
        org.apache.spark.sql.expressions.Window.partitionBy(partitionBy.map(col): _*)
      else org.apache.spark.sql.expressions.Window.partitionBy()
    base.orderBy(orderBy.map(col): _*)
  }

  /** pandas `shift(periods)`: the value `periods` rows back (lag) —
    * leading rows yield null, exactly pandas' NaN head. */
  def shift(valueCol: String, periods: Int, orderBy: Seq[String],
      partitionBy: Seq[String] = Nil, out: String = "shifted"): DataFrame = {
    df.withColumn(out, lag(col(valueCol), periods).over(lagSpec(orderBy, partitionBy)))
  }

  /** pandas `diff(periods)`: x − shift(x, periods). */
  def diff(valueCol: String, periods: Int, orderBy: Seq[String],
      partitionBy: Seq[String] = Nil, out: String = "diffed"): DataFrame = {
    val prev = lag(col(valueCol), periods).over(lagSpec(orderBy, partitionBy))
    df.withColumn(out, col(valueCol) - prev)
  }

  /** pandas `pct_change(periods)`: x ∕ shift(x) − 1 — a single IEEE
    * division then subtraction, deterministic cross-engine (the oracle
    * mirrors the identical operation order). A ZERO previous value yields
    * NULL (the SQL convention, via a null-ified divisor — ANSI-safe);
    * pandas emits ±inf there. Disclosed divergence: inf is not
    * representable in the cross-engine hash compare, and NULL is what
    * every SQL engine agrees on. */
  def pctChange(valueCol: String, periods: Int, orderBy: Seq[String],
      partitionBy: Seq[String] = Nil, out: String = "pct"): DataFrame = {
    val prev = lag(col(valueCol), periods).over(lagSpec(orderBy, partitionBy))
    df.withColumn(out, col(valueCol) / nullif(prev, lit(0.0)) - lit(1.0))
  }

  /** pandas `fillna(value)`: nulls → the fill value (pure projection). */
  def fillna(valueCol: String, fill: Double, out: String = "filled"): DataFrame = {
    df.withColumn(out, coalesce(col(valueCol), lit(fill)))
  }

  /** pandas `clip(lower, upper)`: componentwise clamp — two IEEE
    * comparisons, no arithmetic, so bit-exact cross-engine; nulls pass
    * through like pandas NaN. */
  def clip(valueCol: String, lower: Double, upper: Double,
      out: String = "clipped"): DataFrame = {
    df.withColumn(out, least(greatest(col(valueCol), lit(lower)), lit(upper)))
  }

  /** O6 — resample(rule).apply (swifter/swifter.py:174-220,766-824).
    * `rule` is a Spark interval string, e.g. "1 day", "3 minutes". */
  def resample(rule: String, tsCol: String): SwiftResample =
    new SwiftResample(this, rule, tsCol)
}

/** pandas `result_type` for O2 (docs/documentation.md:103-108). */
sealed trait ResultType
object ResultType {
  case object NoShape extends ResultType
  case object Reduce extends ResultType
  final case class Expand(names: Seq[String]) extends ResultType
  case object Broadcast extends ResultType
}
