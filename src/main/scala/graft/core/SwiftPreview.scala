package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream,
  ObjectInputStream, ObjectOutputStream}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.SparkEnv
import org.apache.spark.io.{CompressionCodec, LZ4CompressionCodec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.QueryExecution

/** The selector's one look at its input: the row count (K3) and the probe
  * sample (K1) from a single Spark job with no exchange; also the K3
  * estimate and the Local rule every choosing call shares.
  *
  * Every input row gets a uniform 64-bit key from an RNG seeded with the
  * sample seed and the partition index. Each partition returns its row count
  * and its `size` rows with the smallest keys; a merge that keeps the smallest
  * keys combines partitions (`treeReduce`). The `k` rows with the smallest
  * keys overall are then a uniform sample without replacement, with exactly
  * `k` rows — the reference draws random sorted positions (base.py:46-47). A
  * prefix `limit(k)` would only see leading-partition rows, so a vectorized
  * candidate that is wrong only on data appearing later would be accepted.
  *
  * @param n    input row count
  * @param rows the min(n, size) rows with the smallest keys, in key order;
  *             every input row when n <= size
  */
private[core] final class SwiftPreview(val n: Long, val rows: Array[InternalRow], size: Int) {
  /** K1 sample size: min(size, ceil(n/25)), the reference's shrink rule for
    * small inputs (base.py:21). Never 0 when n > 0 and size > 0. */
  def k: Int = math.min(size.toLong, (n + 24) / 25).toInt

  /** The first `k` rows by key: a uniform sample without replacement. */
  def sample: Array[InternalRow] = rows.take(k)

  /** True when [[rows]] holds every input row (n <= size). */
  def complete: Boolean = rows.length == n

  /** K3 — `pass` (the row function over [[sample]]) timed `repeats` times,
    * the mean extrapolated from k rows to n: the estimated driver time of
    * the whole input (swifter/swifter.py:319-322). */
  def estimateSec(repeats: Int)(pass: => Unit): Double = {
    if (k == 0) return 0.0
    var total = 0L
    var i = 0
    while (i < repeats) {
      val t0 = System.nanoTime(); pass; total += System.nanoTime() - t0; i += 1
    }
    (total.toDouble / repeats / 1e9) / k * n
  }

  /** The Local rule: K3's estimate is within the threshold AND [[rows]]
    * already holds every input row (n <= sampleSize, and n <=
    * localMaxRows), so the local plan runs on rows already on the driver.
    * A larger input goes Parallel: collecting it again and re-planning it
    * as a LocalRelation costs more than the distributed job saves
    * (SCALING.md, "Selector route regret"). */
  def runsLocal(estSec: Double, cfg: SwiftConfig): Boolean =
    estSec <= cfg.thresholdSec && complete && n <= cfg.localMaxRows
}

private[core] object SwiftPreview {
  /** Runs the preview of `qe`'s result as one job. The plan's own exchanges
    * (if any) run as usual; the preview adds none. */
  def apply(qe: QueryExecution, size: Int, seed: Long): SwiftPreview = {
    val schema = qe.analyzed.schema
    val rdd = qe.toRdd
    if (rdd.getNumPartitions == 0) return new SwiftPreview(0L, Array.empty, size)
    val merged = rdd.mapPartitionsWithIndex { (pi, it) =>
      val rng = new SplittableRandom(mix64(seed ^ mix64(pi.toLong)))
      val toUnsafe = UnsafeProjection.create(schema)
      // max-heap on the key: the head is the largest key kept so far
      val kept = mutable.PriorityQueue.empty[(Long, UnsafeRow)](Ordering.by(_._1))
      var n = 0L
      while (it.hasNext) {
        val row = it.next()
        val key = rng.nextLong()
        n += 1
        if (kept.size < size) kept.enqueue((key, toUnsafe(row).copy()))
        else if (size > 0 && key < kept.head._1) {
          kept.dequeue()
          kept.enqueue((key, toUnsafe(row).copy()))
        }
      }
      val asc = kept.dequeueAll.reverse
      Iterator.single(new Part(n, asc.map(_._1).toArray, asc.map(_._2).toArray))
    }.treeReduce(_.merge(_, size))
    new SwiftPreview(merged.n, merged.rows.toArray[InternalRow], size)
  }

  /** SplitMix64's finalizer. `SplittableRandom(s)` walks s + γ, s + 2γ, …
    * (γ its fixed gamma), so seeds like `seed + pi * γ` would give each
    * partition a shifted copy of one key stream; mixed seeds do not. */
  private def mix64(z0: Long): Long = {
    var z = (z0 ^ (z0 >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Row count alone, for callers that need nothing else: one job over the
    * column-pruned input with no exchange (`count()` aggregates through a
    * shuffle, which AQE runs as two jobs). */
  def count(df: DataFrame): Long = df.select().queryExecution.toRdd.count()

  /** One partition's (or several merged partitions') share of the preview:
    * its row count and its smallest-key rows in ascending key order.
    * Keys are 64-bit, so a tie — the only way the order in which partial
    * results merge could change the kept set — has probability ~n²/2⁶⁴. */
  private final class Part(@transient var n: Long, @transient var keys: Array[Long],
      @transient var rows: Array[UnsafeRow]) extends Serializable {

    def merge(o: Part, size: Int): Part = {
      val m = math.min(size, keys.length + o.keys.length)
      val ks = new Array[Long](m)
      val rs = new Array[UnsafeRow](m)
      var i = 0; var j = 0; var w = 0
      while (w < m) {
        if (j >= o.keys.length || (i < keys.length && keys(i) <= o.keys(j))) {
          ks(w) = keys(i); rs(w) = rows(i); i += 1
        } else { ks(w) = o.keys(j); rs(w) = o.rows(j); j += 1 }
        w += 1
      }
      new Part(n + o.n, ks, rs)
    }

    // Rows travel LZ4-compressed, as a DataFrame collect's do (Spark's
    // default IO codec): the preview ships up to `size` rows per partition.
    private def writeObject(out: ObjectOutputStream): Unit = {
      out.writeLong(n)
      out.writeInt(keys.length)
      out.writeInt(if (rows.isEmpty) 0 else rows.head.numFields)
      val buf = new ByteArrayOutputStream()
      val data = new DataOutputStream(codec.compressedOutputStream(buf))
      var i = 0
      while (i < keys.length) {
        data.writeLong(keys(i))
        data.writeInt(rows(i).getSizeInBytes)
        data.write(rows(i).getBytes)
        i += 1
      }
      data.close()
      out.writeInt(buf.size)
      buf.writeTo(out)
    }

    private def readObject(in: ObjectInputStream): Unit = {
      n = in.readLong()
      val m = in.readInt()
      val numFields = in.readInt()
      val packed = new Array[Byte](in.readInt())
      in.readFully(packed)
      val data = new DataInputStream(
        codec.compressedInputStream(new ByteArrayInputStream(packed)))
      keys = new Array[Long](m)
      rows = new Array[UnsafeRow](m)
      var i = 0
      while (i < m) {
        keys(i) = data.readLong()
        val bytes = new Array[Byte](data.readInt())
        data.readFully(bytes)
        val row = new UnsafeRow(numFields)
        row.pointTo(bytes, bytes.length)
        rows(i) = row
        i += 1
      }
      data.close()
    }
  }

  private def codec: CompressionCodec = new LZ4CompressionCodec(SparkEnv.get.conf)
}
