package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, FutureTask}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Session-scoped registry for the library's deliberate `cache()` calls.
  *
  * Two materialization disciplines coexist in the operators (see
  * `Similarity.semPrune` and `Dedup.jaccardPairsPrefix` for the measured
  * rationale on each side):
  *
  *  - `localCheckpoint(eager = false)` — the DEFAULT for multi-consumer
  *    reuse. Blocks are reclaimed by the ContextCleaner when the frame
  *    goes out of scope, so single-shot library calls leak nothing into
  *    a long-lived session. Used wherever the downstream join strategy
  *    does NOT depend on the materialized frame's measured size (all
  *    broadcast decisions on that path are explicit `broadcast()` /
  *    `hint(...)` calls).
  *
  *  - `cache()` via [[Caches.cached]] — ONLY where the InMemoryRelation's
  *    measured size statistics are load-bearing: AQE must see the real
  *    byte size to broadcast a per-doc gram/array frame instead of
  *    sort-merge-shuffling it (measured regression without it: the
  *    jaccard-prefix verify join shuffled ~600 MB of shingle arrays at
  *    sf0.1, 7.1 s → ~2 s warm with the cache). A checkpointed RDD scan
  *    reports default (huge) stats and would defeat exactly that.
  *
  * Every load-bearing `cache()` registers here, so a long-lived curation
  * session can reclaim the accumulated CacheManager entries between
  * pipeline runs with ONE call — `graft.core.Caches.release()` — instead
  * of each operator needing to thread an unpersist handle through its
  * return type. Single-query jobs never need to call it (executor
  * storage is dropped with the session); the registry exists for the
  * repeated-call case the CacheManager otherwise grows without bound in.
  *
  * The `CacheHygieneSpec` source gate enforces the split: no bare
  * `.cache()` / `.persist()` anywhere in the library outside this file.
  * Results shared across queries go through the one [[memo]] below.
  */
object Caches {
  private val tracked = new ConcurrentLinkedQueue[Dataset[_]]()

  /** `df.cache()`, registered for a later [[release]]. Use ONLY where the
    * cached frame's measured stats steer AQE join planning (document the
    * measurement at the call site); otherwise use
    * `localCheckpoint(eager = false)`. */
  def cached[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache()
    tracked.add(ds)
    ds
  }

  /** Unpersist every frame the library has cached since the last release.
    * Non-blocking by default (the executors drop blocks asynchronously);
    * safe to call at any point — in-flight queries hold their own RDD
    * references and recompute from lineage if a block disappears. */
  def release(blocking: Boolean = false): Unit = {
    var ds = tracked.poll()
    while (ds != null) {
      ds.unpersist(blocking)
      ds = tracked.poll()
    }
  }

  /** Number of currently-tracked (not yet released) cached frames. */
  def trackedCount: Int = tracked.size()

  private val MemoCapacity = 64 // finished entries; least recently used go first

  private final case class MemoKey(session: SparkSession, tag: String,
      plan: LogicalPlan, files: Seq[(String, Long, Long)])

  // access-ordered; locked only for bookkeeping, never across a build
  private val entries = new java.util.LinkedHashMap[MemoKey, FutureTask[Any]](16, 0.75f, true)
  private var hooked: SparkContext = _

  /** The one memo for results shared across queries, keyed on the
    * session (a fresh session pays its own fills), `tag` (the result and
    * every build parameter), `source`'s canonicalized analyzed plan as a
    * plan (its string omits paths and truncates) and each input file's
    * (path, size, mtime), so a rewritten source rebuilds. A key is built
    * once: its concurrent callers wait, other keys' callers never do, and
    * a failed build leaves no entry. Past `MemoCapacity` the least
    * recently used FINISHED entries are evicted, and closed if
    * `AutoCloseable`; a context's entries drop, unclosed, when it ends.
    * A timed run books the fill on whichever consumer runs first. */
  def memo[V](source: DataFrame, tag: String)(build: => V): V = {
    val spark = source.sparkSession
    val files = source.inputFiles.toSeq.sorted.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      (f, st.getLen, st.getModificationTime)
    }
    val key = MemoKey(spark, tag, source.queryExecution.analyzed.canonicalized, files)
    val (task, evicted) = entries.synchronized {
      if (hooked ne spark.sparkContext) {
        hooked = spark.sparkContext
        hooked.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            dropContext(spark.sparkContext)
        })
      }
      val task = entries.computeIfAbsent(key, _ => new FutureTask[Any](() => build))
      val old = entries.values.asScala.filter(_.isDone).take(entries.size - MemoCapacity).toList
      old.foreach(entries.values.remove)
      (task, old)
    }
    // outside the lock, best effort: a close may run Spark SQL
    evicted.foreach(t => Try(t.get()).collect { case c: AutoCloseable => c.close() })
    task.run() // a no-op unless this caller is the first to reach the entry
    try task.get().asInstanceOf[V]
    catch { case e: ExecutionException =>
      entries.synchronized(entries.remove(key, task))
      throw e.getCause
    }
  }

  /** Drops every memo entry built under `sc`; runs when `sc` ends. */
  private[graft] def dropContext(sc: SparkContext): Unit =
    entries.synchronized(entries.keySet.removeIf(_.session.sparkContext eq sc)): Unit

  /** Persisted RDD ids owned by memoized frames: a between-query sweep
    * must keep them, since a localCheckpoint'd frame has no lineage. */
  def memoizedRddIds: Set[Int] =
    entries.synchronized(entries.values.asScala.toList).filter(_.isDone)
      .flatMap(t => Try(t.get()).toOption).collect { case df: Dataset[_] => df }
      .flatMap(_.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }).toSet
}
