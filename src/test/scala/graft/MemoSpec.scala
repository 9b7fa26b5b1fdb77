package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.core.Caches
import graft.operators.Similarity

/** The one cross-query memo ([[graft.core.Caches.memo]]): its key tells
  * sources apart by plan and by file snapshot, still hits on independent
  * reads of one path, builds each key once under concurrent callers,
  * keeps no failed build, drops its entries when the context ends, and
  * evicts only finished entries past its capacity, closing them.
  * Runs on the shared session and never stops its SparkContext. */
class MemoSpec extends SparkSpec {

  private lazy val base =
    java.nio.file.Files.createTempDirectory("memo_spec").toString

  /** 48 rows of (id, vec: 8 floats) whose values depend on `seed`, plus
    * one constant filler column per name in `extra`. */
  private def writeVectors(path: String, seed: Int,
      extra: Seq[String] = Nil): Unit = {
    val vec = array((0 until 8).map(i =>
      ((col("id") * (i + 3) + lit(seed) * (i + 1)) % 23).cast("float")): _*)
    val fillers = extra.zipWithIndex.map { case (c, i) => lit(i.toLong).as(c) }
    spark.range(48).select(Seq(col("id"), vec.as("vec")) ++ fillers: _*)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def fx0(path: String): DataFrame =
    Similarity.fixedPoint(spark.read.parquet(path), "id", "vec")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The memoized book against a fresh, unmemoized training run. */
  private def assertBookFresh(path: String): Seq[String] = {
    val shared = rows(Similarity.pqCodebookTrainedShared(fx0(path), 2, 4, 4, 2))
    val fresh = rows(Similarity.pqCodebookTrained(fx0(path), 2, 4, 4, 2))
    assert(shared === fresh, s"memoized book for $path is not its own")
    shared
  }

  test("(a) same-schema sources with different rows get their own books") {
    writeVectors(s"$base/a1", seed = 1)
    writeVectors(s"$base/a2", seed = 5)
    assert(assertBookFresh(s"$base/a1") != assertBookFresh(s"$base/a2"))
    // >25 columns sharing their first 25: a plan string truncates at 25
    // fields, before the columns that differ
    val shared = (0 until 23).map(i => s"c$i")
    writeVectors(s"$base/w1", seed = 2, shared ++ Seq("x0", "x1", "x2"))
    writeVectors(s"$base/w2", seed = 7, shared ++ Seq("y0", "y1", "y2"))
    val w1 = spark.read.parquet(s"$base/w1").columns
    val w2 = spark.read.parquet(s"$base/w2").columns
    assert(w1.length > 25 && w1.take(25).sameElements(w2.take(25)))
    assert(assertBookFresh(s"$base/w1") != assertBookFresh(s"$base/w2"))
  }

  test("(b) a source rewritten mid-session forces a rebuild") {
    val p = s"$base/b"
    writeVectors(p, seed = 3)
    val before = assertBookFresh(p)
    writeVectors(p, seed = 11)
    assert(assertBookFresh(p) != before)
  }

  test("(c) two independent reads of one path share one entry") {
    val builds = new AtomicInteger(0)
    def get(): AnyRef = Caches.memo(
        graft.queries.Tables.t(spark, sf001, "documents"), "memoSpec:c") {
      builds.incrementAndGet(); new Object
    }
    val first = get()
    assert(get() eq first)
    assert(builds.get() === 1)
  }

  test("(d) concurrent callers build a key once; other keys never wait") {
    val src = spark.range(3).toDF("x")
    val builds = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val got = (1 to 8).map(_ => Future {
        start.await()
        Caches.memo(src, "memoSpec:d") {
          builds.incrementAndGet(); Thread.sleep(300); new Object
        }
      })
      start.countDown()
      val values = Await.result(Future.sequence(got), 60.seconds)
      assert(builds.get() === 1)
      assert(values.forall(_ eq values.head))

      val release = new CountDownLatch(1)
      val slow = Future(Caches.memo(src, "memoSpec:d-slow") {
        release.await(); "slow"
      })
      try assert(Caches.memo(src, "memoSpec:d-fast")("fast") === "fast")
      finally release.countDown()
      assert(Await.result(slow, 60.seconds) === "slow")
    } finally { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
  }

  test("(d) a concurrently called shared stream run starts one query") {
    val started = new AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith("stream_sess_et_"))) started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // a gap no declared query uses, so the run cannot be memoized already
      val calls = (1 to 4).map(i => Future {
        val df =
          if (i % 2 == 0) graft.streaming.StreamOps.sessionizeOnceEventTime(spark, sf001, 23)
          else graft.streaming.StreamOps.sessionizeOnceNative(spark, sf001, 23)
        df.count()
      })
      val counts = Await.result(Future.sequence(calls), 300.seconds)
      assert(counts.forall(_ > 0))
      assert(started.get() === 1)
    } finally {
      spark.streams.removeListener(listener)
      pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }

  test("(e) a build that throws leaves no entry") {
    val src = spark.range(4).toDF("x")
    val e = intercept[IllegalStateException] {
      Caches.memo[String](src, "memoSpec:e")(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage === "boom")
    assert(Caches.memo(src, "memoSpec:e")("built") === "built")
  }

  test("(f) the context-end hook drops the context's entries") {
    val src = spark.range(5).toDF("x")
    val builds = new AtomicInteger(0)
    def frame(): DataFrame = Caches.memo(src, "memoSpec:f") {
      builds.incrementAndGet()
      spark.range(10).toDF("y").localCheckpoint(true)
    }
    def rddIds(df: DataFrame): Set[Int] = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    val ids = rddIds(frame())
    assert(ids.nonEmpty && ids.subsetOf(Caches.memoizedRddIds))
    assert(queries.ExtQueries.memoizedRddIds === Caches.memoizedRddIds)
    Caches.dropContext(spark.sparkContext)
    assert(!ids.exists(Caches.memoizedRddIds.contains))
    assert(rddIds(frame()) != ids)
    assert(builds.get() === 2)
    assert(frame().collect().toSeq === (0 until 10).map(i => Row(i.toLong)))
  }

  test("(g) eviction skips in-flight builds and closes what it evicts") {
    val src = spark.range(6).toDF("x")
    val closed = new AtomicInteger(0)
    Caches.memo(src, "memoSpec:g-closeable") {
      new AutoCloseable { def close(): Unit = closed.incrementAndGet(): Unit }
    }
    // a fresh session always builds, so the bucketed layout's tables are new
    def bkt(): Set[String] = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_bkt_")).toSet
    val before = bkt()
    queries.RelationalQueries.queries("rel_join_bucketed")(spark.newSession(), sf001)
    val bucketed = bkt() -- before
    assert(bucketed.size === 2)

    val builds = new AtomicInteger(0)
    val running = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def slowBuild(): String = Caches.memo(src, "memoSpec:g-slow") {
      builds.incrementAndGet(); running.countDown(); release.await(); "slow"
    }
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val slow = Future(slowBuild())
      assert(running.await(60, TimeUnit.SECONDS))
      // far more keys than the memo holds, all inserted during the build;
      // none of these callers may wait on the in-flight one
      Await.result(Future((0 until 200).foreach(i =>
        Caches.memo(src, s"memoSpec:g-$i")(i))), 60.seconds)
      assert(closed.get() === 1)
      assert((bkt() intersect bucketed).isEmpty)
      val again = Future(slowBuild())
      release.countDown()
      assert(Await.result(slow, 60.seconds) === "slow")
      assert(Await.result(again, 60.seconds) === "slow")
      assert(builds.get() === 1)
    } finally {
      release.countDown()
      pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }
}
