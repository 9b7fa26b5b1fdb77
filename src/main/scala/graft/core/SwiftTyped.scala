package graft.core

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.encoderFor

/** Typed facade of the selector for `Dataset[T]` users (SURVEY.md §1.1:
  * `Dataset[T]` where compile-time field checks help). The vectorized
  * strategy needs a Column form and lives on the untyped API; here the
  * selector chooses between the distributed typed map and the
  * driver-local route (K3), preserving the same invisibility contract.
  */
final class SwiftTyped[T](ds: Dataset[T], cfg: SwiftConfig) {

  def threshold(sec: Double): SwiftTyped[T] =
    new SwiftTyped(ds, cfg.copy(thresholdSec = sec))
  def forceParallel(b: Boolean = true): SwiftTyped[T] =
    new SwiftTyped(ds, cfg.copy(forceParallel = b))

  @volatile var lastStrategy: SwiftStrategy = SwiftStrategy.Parallel

  def apply[U: Encoder](f: T => U): Dataset[U] = {
    if (cfg.forceParallel) { lastStrategy = SwiftStrategy.Parallel; return ds.map(f) }
    val p = SwiftPreview(ds.queryExecution, cfg.sampleSize, cfg.sampleSeed)
    if (p.n == 0) { lastStrategy = SwiftStrategy.Parallel; return ds.map(f) }
    val fromInternal = encoderFor(ds.encoder)
      .resolveAndBind(ds.queryExecution.analyzed.output).createDeserializer()
    val sample = p.sample.toIndexedSeq.map(fromInternal)
    val estSec = {
      var total = 0L
      var i = 0
      while (i < cfg.nRepeats) {
        val t0 = System.nanoTime()
        Progress.suppressed { sample.foreach(f) }
        total += System.nanoTime() - t0; i += 1
      }
      (total.toDouble / cfg.nRepeats / 1e9) / math.max(1, sample.length) * p.n
    }
    // local only when the preview already holds every row (see Swift.localInput)
    if (estSec <= cfg.thresholdSec && p.complete && p.n <= cfg.localMaxRows) {
      lastStrategy = SwiftStrategy.Local
      val all: Seq[U] = p.rows.toIndexedSeq.map(r => f(fromInternal(r)))
      ds.sparkSession.createDataset(all)
    } else { lastStrategy = SwiftStrategy.Parallel; ds.map(f) }
  }
}

object SwiftTyped {
  def apply[T](ds: Dataset[T]): SwiftTyped[T] = new SwiftTyped(ds, SwiftDefaults.get)
}
