package perfbench

import java.math.{BigDecimal => JBigDecimal}

import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val cols = Seq("x", "y", "z", "t", "l", "d")
  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
  private val rows: Seq[Seq[Any]] = Seq(
    Seq(1L, 2.5, "a", ts("2024-01-01T00:00:01Z"), Seq(1.0, 2.0), new JBigDecimal("1.2300")),
    Seq(null, -0.0, "b", null, Seq(), new JBigDecimal("0.1")),
    Seq(7, 0.1 + 0.2, "c", ts("1969-12-31T23:59:59.500Z"), Seq(null), new JBigDecimal("-5")))

  test("a fixed vector keeps its fingerprint, so recorded references stay valid") {
    assert(Fingerprint.of(cols, rows.iterator) == "3:913e25a4622922b0")
  }

  test("row order does not change the fingerprint") {
    val want = Fingerprint.of(cols, rows.iterator)
    rows.permutations.foreach(p => assert(Fingerprint.of(cols, p.iterator) == want))
  }

  test("column order does not change it either") {
    val order = Seq(3, 0, 5, 1, 4, 2)
    val moved = rows.map(r => order.map(r))
    assert(Fingerprint.of(order.map(cols), moved.iterator) == Fingerprint.of(cols, rows.iterator))
  }

  test("floating-point sums in another order fingerprint the same") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(1000)(rnd.nextDouble() * 1000)
    val forward = xs.sum
    val backward = xs.reverse.sum
    val shuffled = rnd.shuffle(xs).sum
    val fps = Seq(forward, backward, shuffled).map(v => Fingerprint.of(Seq("s"), Iterator(Seq(v))))
    assert(fps.distinct.size == 1, s"$forward / $backward / $shuffled")
    assert(Fingerprint.dbl(0.1 + 0.2) == Fingerprint.dbl(0.3))
    assert(Fingerprint.dbl(-0.0) == "0")
    assert(Fingerprint.canon(1.0f) == Fingerprint.canon(1.0))
  }

  test("a changed value, a lost row or a duplicated row changes it") {
    val want = Fingerprint.of(cols, rows.iterator)
    val changed = rows.updated(0, rows.head.updated(2, "A"))
    assert(Fingerprint.of(cols, changed.iterator) != want)
    assert(Fingerprint.of(cols, rows.tail.iterator) != want)
    assert(Fingerprint.of(cols, (rows :+ rows.head).iterator) != want)
    assert(Fingerprint.dbl(1.0) != Fingerprint.dbl(1.00001))
  }
}
