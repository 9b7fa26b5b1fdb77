package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.{Swift, SwiftExpr}
import graft.core.SwiftExpr._

/** Property: for ANY term of the restricted AST, `applyExpr`'s output is
  * BIT-IDENTICAL to the row-at-a-time evaluation on every row — including
  * the hazard domain (zero denominators, non-positive log arguments, NULL
  * fields, NaN flowing into comparisons) where Spark's built-in operators
  * diverge from the JVM (NULL / ANSI DIVIDE_BY_ZERO / NaN-ordering). The
  * Column translation uses IeeeMath + NaN-guarded comparisons precisely so
  * this holds on rows the K2 probe sample never saw. */
class SwiftExprPropertySpec extends SparkSpec {
  import spark.implicits._

  private def genExpr(depth: Int): Gen[SwiftExpr] =
    if (depth == 0)
      Gen.oneOf(Gen.const(fld("x")), Gen.const(fld("y")),
        Gen.choose(-5.0, 5.0).map(num))
    else
      Gen.choose(0, 8).flatMap { k =>
        for {
          a <- genExpr(depth - 1)
          b <- genExpr(depth - 1)
        } yield k match {
          case 0 => a + b
          case 1 => a - b
          case 2 => a * b
          case 3 => a / b
          case 4 => iff(a < b, a, b)
          case 5 => abs_(a)
          case 6 => iff(a >= b && !(a === b), sqrt_(abs_(a)), b)
          case 7 => log_(a)
          case 8 => iff(a === b, a + b, a / b)
        }
      }

  // x spans negatives/zero, y hits exact zero every 17th row, and three
  // trailing rows carry NULLs — the exact inputs where Spark's built-in
  // `/`, `log`, and NaN comparison conventions diverge from the JVM
  private lazy val hazardDf = {
    val base = (1 to 300).map(i =>
      (i.toLong, Some(i * 0.37 - 50): Option[Double], Some((i % 17) * 1.25): Option[Double]))
    val nulls = Seq(
      (301L, None: Option[Double], Some(2.0): Option[Double]),
      (302L, Some(3.0): Option[Double], None: Option[Double]),
      (303L, None: Option[Double], None: Option[Double]))
    (base ++ nulls).toDF("id", "x", "y")
  }

  test("property: applyExpr output is bit-exact vs row evaluation, hazards included") {
    (1 to 25).foreach { trial =>
      val term = genExpr(3)(Gen.Parameters.default, Seed(97L + trial)).get
      val out = Swift(hazardDf).applyExpr("r")(term)
        .orderBy("id").select("id", "x", "y", "r").collect()
      out.foreach { row =>
        val expect = term.eval(row)
        assert(!row.isNullAt(3),
          s"term=$term row=$row produced NULL where eval gives $expect")
        assert(java.lang.Double.doubleToLongBits(expect)
          == java.lang.Double.doubleToLongBits(row.getDouble(3)),
          s"term=$term row=$row expect=$expect got=${row.getDouble(3)}")
      }
    }
  }

  test("hazard rows: division by zero, log(<=0), null fields, NaN in If conditions") {
    // every hazard class in one term: 0/0 NaN and ±Inf from x/y, log of
    // negatives, and the NaN feeding BOTH sides of an If comparison
    val term = iff(fld("x") / fld("y") > num(0.0),
      log_(fld("x")), fld("x") / fld("y"))
    val applied = Swift(hazardDf).applyExpr("r")(term)
    assert(Swift.decisions(applied).map(_.route) == Seq(graft.core.SwiftStrategy.Vectorized),
      "true-twin Column form must survive the K2 probe")
    val out = applied.orderBy("id").collect()
    out.foreach { row =>
      val expect = term.eval(row)
      assert(!row.isNullAt(row.fieldIndex("r")))
      assert(java.lang.Double.doubleToLongBits(expect)
        == java.lang.Double.doubleToLongBits(row.getAs[Double]("r")),
        s"row=$row expect=$expect got=${row.getAs[Double]("r")}")
    }
    // sanity: the hazard domain is actually exercised
    val vals = out.map(_.getAs[Double]("r"))
    assert(vals.exists(_.isNaN), "expected a NaN output (0/0 or null field)")
    assert(vals.exists(_.isInfinite), "expected an Inf output (x/0)")
  }
}
