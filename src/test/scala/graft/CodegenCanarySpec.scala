package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HashExpressions => HE, IeeeMath => IM, TextExpressions => TE}

/** Codegen-compile canary (round-12 verdict task 2).
  *
  * Every custom Catalyst expression in this library ships a `doGenCode`
  * whose whole point is participating in whole-stage codegen. But a
  * Janino compile error in the generated Java is INVISIBLE to every
  * other gate: Spark logs a WARN and silently falls back to the
  * interpreted `eval`, so CORRECTNESS stays green, `sbt test` stays
  * green, and PlanAuditSpec (which pins plan shape, not generated-code
  * validity) stays green. Round 11 shipped exactly that bug:
  * `ClassScoreArray.doGenCode` emitted `priors.clone()`, which Janino
  * types as `Object`, so all 10 scoring queries ran interpreted while
  * every gate passed.
  *
  * This spec closes the hole by force-compiling each expression through
  * [[GenerateUnsafeProjection.generate]], which calls Janino directly
  * and THROWS on a compile failure — no interpreted fallback exists on
  * that path. It then evaluates the compiled projection on a sample row
  * and compares against the interpreted `eval`, so the canary also
  * catches generated code that compiles but diverges.
  */
class CodegenCanarySpec extends SparkSpec {

  private val longArr = ArrayType(LongType, containsNull = false)
  private val dblArr = ArrayType(DoubleType, containsNull = false)

  private def ref(dt: DataType, ordinal: Int = 0) =
    BoundReference(ordinal, dt, nullable = true)

  private def sampleText = UTF8String.fromString(
    "the quick brown fox jumps over the lazy dog the quick dog 123 " +
      "aa bb cc dd aa bb cc aa — punctuation, too! and CAPS MiXeD")

  private def hashes(n: Int): GenericArrayData =
    new GenericArrayData(Array.tabulate(n)(i => math.abs(i * 2654435761L + 17) % 1000003L))

  private def fixedVec(n: Int): GenericArrayData =
    new GenericArrayData(Array.tabulate(n)(i => (i * 31L - 40L) * 12345L))

  /** Compile the projection (throws on Janino failure), run it, and
    * check the compiled output equals the interpreted eval. */
  private def canary(name: String, expr: Expression, input: Any*): Unit =
    test(s"codegen compiles + matches interpreted: $name") {
      val row = new GenericInternalRow(input.toArray)
      val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws on compile error
      val compiled = proj(row).get(0, expr.dataType)
      val interpreted = expr.eval(row)
      val toScala = CatalystTypeConverters.createToScalaConverter(expr.dataType)
      assert(toScala(compiled) === toScala(interpreted),
        s"$name: compiled output diverges from interpreted eval")
    }

  // ---- text expressions (string input) ----------------------------------
  canary("WordHashArray", HE.WordHashArray(ref(StringType)), sampleText)
  canary("CanonicalText", TE.CanonicalText(ref(StringType)), sampleText)
  canary("CanonicalUrl", TE.CanonicalUrl(ref(StringType)), UTF8String.fromString(
    "HTTPS://WWW.Example.COM:443/Path/?b=2&utm_source=x&a=1#frag"))

  // RepetitionStats/GopherProfile consume the split-token array
  private val strArr = ArrayType(StringType, containsNull = false)
  private def tokens = new GenericArrayData(
    "the quick dog the quick dog aa bb aa bb aa the".split(' ')
      .map(UTF8String.fromString(_): Any))
  canary("RepetitionStats", TE.RepetitionStats(ref(strArr)), tokens)
  canary("GopherProfile", TE.GopherProfile(ref(strArr)), tokens)

  // ---- hash-array expressions (array<long> input) -----------------------
  canary("ShingleHashArray", HE.ShingleHashArray(ref(longArr)), hashes(12))
  canary("NgramHashArray", HE.NgramHashArray(ref(longArr), 3), hashes(12))
  canary("NgramHashWideArray", HE.NgramHashWideArray(ref(longArr), 3), hashes(12))
  canary("WinnowArray", HE.WinnowArray(ref(longArr), 4), hashes(12))
  canary("MinHashSig", HE.MinHashSig(ref(longArr)), hashes(12))
  canary("SimHash30", HE.SimHash30(ref(longArr)), hashes(12))
  canary("HyperplaneSig", HE.HyperplaneSig(ref(longArr), 2, 4, 8), fixedVec(8))

  // ---- fixed-point vector algebra ---------------------------------------
  canary("FixedPointVec",
    HE.FixedPointVec(ref(dblArr)),
    new GenericArrayData(Array.tabulate(8)(i => i * 0.125 - 0.4)))
  canary("FixedDot",
    HE.FixedDot(ref(longArr, 0), ref(longArr, 1)), fixedVec(8), fixedVec(8))
  canary("FixedDotSq",
    HE.FixedDotSq(ref(longArr, 0), ref(longArr, 1)), fixedVec(8), fixedVec(8))

  // ---- NB / LM class scoring (the round-11 regression) ------------------
  canary("ClassScoreArray",
    HE.ClassScoreArray(ref(longArr),
      priors = Array(100L, 200L, 300L),
      table = Array.tabulate(24)(i => i * 7L - 50L),
      buckets = 8),
    hashes(12))

  // ---- IEEE math --------------------------------------------------------
  canary("IeeeDiv", IM.IeeeDiv(ref(DoubleType, 0), ref(DoubleType, 1)),
    Double.box(7.25), Double.box(-3.5))
  canary("IeeeLog", IM.IeeeLog(ref(DoubleType)), Double.box(42.0))

  // Null handling through the compiled path: every unary expression must
  // produce null (not crash) on a null input once compiled.
  test("codegen null propagation: WordHashArray/ClassScoreArray") {
    val exprs = Seq[Expression](
      HE.WordHashArray(ref(StringType)),
      TE.CanonicalText(ref(StringType)))
    exprs.foreach { e =>
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      assert(proj(new GenericInternalRow(Array[Any](null))).isNullAt(0))
    }
    val cs = HE.ClassScoreArray(ref(longArr), Array(1L), Array.fill(8)(0L), 8)
    val proj = GenerateUnsafeProjection.generate(Seq(cs))
    assert(proj(new GenericInternalRow(Array[Any](null))).isNullAt(0))
  }

  // Spark keys its generated-class cache on (class loader, source). A
  // session whose tasks run under its own artifact class loader misses
  // on classes an earlier session compiled from the same source, so
  // every fresh session would recompile them (about 12 classes per
  // shuffle query).
  test("a fresh session recompiles nothing an earlier fresh session compiled") {
    def compiles(): Long = {
      val s = spark.newSession()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Seq("o6_resample_ohlc", "o1_apply_vec").foreach { q =>
        SparkEntry.queries(q)(s, sf001).write.format("noop").mode("overwrite").save()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles()
    assert(compiles() === 0)
  }
}
