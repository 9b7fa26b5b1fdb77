package graft.core

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.encoderFor

/** Typed facade of the selector for `Dataset[T]` users (SURVEY.md §1.1:
  * `Dataset[T]` where compile-time field checks help). The vectorized
  * strategy needs a Column form and lives on the untyped API; here the
  * selector chooses between the distributed typed map and the
  * driver-local route with the same K3 estimate and Local rule
  * ([[SwiftPreview]]), preserving the same invisibility contract; the
  * decision is read with [[Swift.decisions]].
  */
final class SwiftTyped[T](ds: Dataset[T], cfg: SwiftConfig) {

  def threshold(sec: Double): SwiftTyped[T] =
    new SwiftTyped(ds, cfg.copy(thresholdSec = sec))
  def forceParallel(b: Boolean = true): SwiftTyped[T] =
    new SwiftTyped(ds, cfg.copy(forceParallel = b))

  def apply[U: Encoder](f: T => U): Dataset[U] = {
    if (cfg.forceParallel) return Swift.record(ds.map(f), SwiftDecision.fixedParallel)
    val p = SwiftPreview(ds.queryExecution, cfg.sampleSize, cfg.sampleSeed)
    if (p.n == 0)
      return Swift.record(ds.map(f),
        SwiftDecision(SwiftStrategy.Parallel, SwiftProbe.NoCandidate, Some(0L), None))
    val fromInternal = encoderFor(ds.encoder)
      .resolveAndBind(ds.queryExecution.analyzed.output).createDeserializer()
    val sample = p.sample.toIndexedSeq.map(fromInternal)
    val estSec = p.estimateSec(cfg.nRepeats)(Progress.suppressed { sample.foreach(f) })
    val local = p.runsLocal(estSec, cfg)
    Swift.record(
      if (local) ds.sparkSession.createDataset(p.rows.toIndexedSeq.map(r => f(fromInternal(r))))
      else ds.map(f),
      SwiftDecision(if (local) SwiftStrategy.Local else SwiftStrategy.Parallel,
        SwiftProbe.NoCandidate, Some(p.n), Some(estSec)))
  }
}

object SwiftTyped {
  def apply[T](ds: Dataset[T]): SwiftTyped[T] = new SwiftTyped(ds, SwiftDefaults.get)
}
