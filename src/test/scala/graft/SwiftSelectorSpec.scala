package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{ResultType, Swift, SwiftConfig, SwiftProbe, SwiftStrategy}

/** Decision-kernel behavior (SURVEY.md §2.2): strategy routing must be
  * observationally invisible, mirroring the reference's differential
  * tests (swifter_tests.py:95-105). */
class SwiftSelectorSpec extends SparkSpec {
  import spark.implicits._

  private def df = (1 to 5000).map(i => (i.toLong, i * 0.5)).toDF("id", "x")
  private def routes(out: org.apache.spark.sql.Dataset[_]) = Swift.decisions(out).map(_.route)

  test("K2: valid vectorized candidate wins and matches the UDF oracle") {
    val out = Swift(df).applyScalar[Double, Double]("x", "y")(
      v => v * v, vectorized = Some(col("x") * col("x")))
    assert(routes(out) == Seq(SwiftStrategy.Vectorized))
    // every query declaration returns a projection of the selector's frame
    assert(routes(out.select("id", "y").filter(col("y") > 1)) == Seq(SwiftStrategy.Vectorized))
    val sq: Double => Double = v => v * v
    val expect = df.withColumn("y", udf(sq).apply(col("x")))
    assert(out.orderBy("id").collect().sameElements(expect.orderBy("id").collect()))
  }

  test("K2/K5: wrong vectorized candidate is rejected, result still correct") {
    val out = Swift(df).applyScalar[Double, Double]("x", "y")(
      v => v * 2, vectorized = Some(col("x") * 3)) // lies!
    assert(Swift.decisions(out).map(d => (d.route, d.probe)) ==
      Seq((SwiftStrategy.Parallel, SwiftProbe.Mismatch)))
    assert(out.select(sum(col("y"))).head.getDouble(0)
      == df.select(sum(col("x") * 2)).head.getDouble(0))
  }

  test("concurrent callers on one handle: each result carries its own candidate's decision") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val sw = Swift(df)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      // valid and lying candidates interleaved, all released at once
      val calls = (0 until 8).map { i =>
        val lies = i % 2 == 1
        Future {
          start.await()
          val out = sw.applyScalar[Double, Double]("x", "y")(v => v * v,
            vectorized = Some(if (lies) col("x") * 3 else col("x") * col("x")))
          (lies, Swift.decisions(out), out.filter(col("y") =!= col("x") * col("x")).count())
        }
      }
      start.countDown()
      Await.result(Future.sequence(calls), 5.minutes).foreach { case (lies, ds, wrong) =>
        assert(ds.map(d => (d.route, d.probe)) == Seq(
          if (lies) (SwiftStrategy.Parallel, SwiftProbe.Mismatch)
          else (SwiftStrategy.Vectorized, SwiftProbe.Accepted)), s"lies=$lies")
        assert(wrong == 0)
      }
    } finally pool.shutdown()
  }

  test("K1: random draw rejects a candidate that is only correct on the prefix") {
    // first ~4/5 of the data (and ALL of the leading partitions) has x=0,
    // where the lying candidate agrees with the row function; the tail
    // partition has x=1 where it does not. A prefix limit(k) sample would
    // certify the candidate; the seeded random draw must reject it.
    val d = ((1 to 4000).map(i => (i.toLong, 0.0)) ++
      (4001 to 5000).map(i => (i.toLong, 1.0))).toDF("id", "x")
    val fn: Double => Double = v => if (v == 0.0) 5.0 else 6.0
    val out = Swift(d).applyScalar[Double, Double]("x", "y")(fn, vectorized = Some(lit(5.0)))
    assert(routes(out) == Seq(SwiftStrategy.Parallel))
    assert(out.filter(col("x") === 1.0 && col("y") =!= 6.0).count() == 0)
  }

  test("K2: probe equality is exact for Longs beyond 2^53 (no double widening)") {
    // 2^53 and 2^53+1 are the same double; a widening comparison would
    // certify the off-by-one candidate and silently corrupt the output.
    val big = 1L << 53
    val d = (1 to 5000).map(i => (i.toLong, big)).toDF("id", "x")
    val off = Swift(d).applyScalar[Long, Long]("x", "y")(v => v, vectorized = Some(col("x") + 1))
    assert(routes(off) == Seq(SwiftStrategy.Parallel))
    val same = Swift(d).applyScalar[Long, Long]("x", "y")(v => v, vectorized = Some(col("x")))
    assert(routes(same) == Seq(SwiftStrategy.Vectorized))
  }

  test("K5: vectorized candidate that THROWS at probe time falls back cleanly") {
    val out = Swift(df).applyScalar[Double, Double]("x", "y")(
      v => v + 1, vectorized = Some(col("no_such_column") + 1)) // AnalysisException at probe
    val Seq(d) = Swift.decisions(out)
    assert(d.route == SwiftStrategy.Parallel)
    d.probe match {
      case SwiftProbe.Threw(cls) => assert(
        classOf[org.apache.spark.sql.AnalysisException].isAssignableFrom(Class.forName(cls)), cls)
      case other => fail(s"expected the probe to record the exception, got $other")
    }
    assert(out.filter(col("y") =!= col("x") + 1).count() == 0)
  }

  test("SwiftExpr AST: one term auto-vectorizes through the K2 probe") {
    import graft.core.SwiftExpr._
    val xf = fld("x")
    val out = Swift(df).applyExpr("y")(iff(xf < num(100), xf * xf, sqrt_(xf)))
    assert(routes(out) == Seq(SwiftStrategy.Vectorized))
    val bad = out.filter(
      (col("x") < 100 && col("y") =!= col("x") * col("x")) ||
        (col("x") >= 100 && col("y") =!= sqrt(col("x"))))
    assert(bad.count() == 0)
  }

  test("O2 raw=True analog: Seq[Double] row fast path") {
    val d = (1 to 5000).map(i => (i.toLong, i * 0.5, i * 0.25)).toDF("id", "a", "b")
    val out = Swift(d).applyRawNumeric(Seq("a", "b"), "w")(xs => xs(0) * 2 + xs(1))
    assert(routes(out) == Seq(SwiftStrategy.Parallel))
    assert(out.filter(col("w") =!= col("a") * 2 + col("b")).count() == 0)
    assert(!out.columns.contains("__swift_raw"))
  }

  test("typed facade: Dataset[T] apply routes and stays correct") {
    val ds = (1 to 4000).map(i => P(i.toLong, i * 0.5)).toDS()
    val sw = graft.core.SwiftTyped(ds)
    val out = sw.apply((p: P) => p.x * 2)
    assert(out.as[Double].collect().sum == ds.collect().map(_.x * 2).sum)
    val tiny = (1 to 5).map(i => P(i.toLong, 1.0)).toDS()
    assert(routes(graft.core.SwiftTyped(tiny).apply((p: P) => p.x + 1)) == Seq(SwiftStrategy.Local))
  }

  test("K3: tiny input routes to the driver-local plan") {
    val tiny = (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "x")
    val out = Swift(tiny).applyScalar[Double, Double]("x", "y")(v => v + 1)
    assert(routes(out) == Seq(SwiftStrategy.Local))
    assert(out.count() == 10)
  }

  test("K9: forceParallel bypasses probing") {
    val out = Swift(df).forceParallel().applyScalar[Double, Double]("x", "y")(v => v + 1)
    assert(Swift.decisions(out) == Seq(graft.core.SwiftDecision.fixedParallel))
  }

  test("empty input short-circuits (reference swifter.py:292-294)") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "x")
    val out = Swift(empty).applyScalar[Double, Double]("x", "y")(v => v + 1)
    assert(out.count() == 0)
    assert(out.columns.contains("y"))
  }

  test("job budget: one preview job per selector call on a parquet read, none when forced") {
    // lineitem respooled into 4 part files, so the preview reads 4 partitions;
    // q is l_quantity with about 1 row in 7 null
    val dir = java.nio.file.Files.createTempDirectory("swift-jobs").resolve("lineitem").toString
    spark.read.parquet(s"$sf001/lineitem.parquet")
      .withColumn("q", when((col("l_orderkey") + col("l_linenumber")) % 7 =!= 0, col("l_quantity")))
      .repartition(4).write.parquet(dir)
    val li = spark.read.parquet(dir)
    assert(li.queryExecution.toRdd.getNumPartitions == 4)
    val sampleSize = SwiftConfig().sampleSize
    val branchy: Double => Double = x => if (x < 12) x * x else math.sqrt(x)
    def branchyAt(sw: Swift) = routes(sw.applyScalar[Double, Double]("q", "y")(branchy))

    // a correct candidate on a null-bearing column: the oracle maps a null
    // input to null, as the UDF does, so K2 accepts it
    val (vecOut, vecJobs) = jobsDuring(Swift(li).applyScalar[Double, Double]("q", "y")(
      x => x * x, vectorized = Some(col("q") * col("q"))))
    assert(routes(vecOut) == Seq(SwiftStrategy.Vectorized) && vecJobs == 1,
      s"vectorized: $vecJobs jobs")
    // n > sampleSize: Parallel even where K3 would run locally, and no
    // whole-input collect
    val (parOut, parJobs) = jobsDuring(Swift(li).threshold(1e9)
      .applyScalar[Double, Double]("q", "y")(branchy))
    assert(routes(parOut) == Seq(SwiftStrategy.Parallel) && parJobs == 1,
      s"parallel: $parJobs jobs")
    assert(li.filter(col("q").isNull).count() > li.count() / 10)
    for (out <- Seq(vecOut, parOut))
      assert(out.filter(col("q").isNull =!= col("y").isNull).count() == 0)

    val small = li.filter(col("l_orderkey") <= 100)
    val nSmall = small.count()
    assert(nSmall > 0 && nSmall <= sampleSize)
    val local = Swift(small)
    val (localRoute, localJobs) = jobsDuring(branchyAt(local))
    assert(localRoute == Seq(SwiftStrategy.Local) && localJobs == 1, s"local: $localJobs jobs")
    // the local plan runs on the preview's rows: materializing it starts no job
    val (localOut, outJobs) = jobsDuring(
      local.applyScalar[Double, Double]("q", "y")(branchy).collect())
    assert(outJobs == 0)
    val parallelOut = Swift(small).forceParallel()
      .applyScalar[Double, Double]("q", "y")(branchy).collect()
    assert(localOut.map(_.toString).sorted.sameElements(parallelOut.map(_.toString).sorted))

    val (forcedRoute, forcedJobs) = jobsDuring(branchyAt(Swift(li).forceParallel()))
    assert(forcedRoute == Seq(SwiftStrategy.Parallel) && forcedJobs == 0)

    // the sample: exactly k rows, the same draw for the same seed, drawn
    // from more than one partition
    val tagged = li.withColumn("pid", spark_partition_id())
    val n = li.count()
    val k = math.min(sampleSize.toLong, (n + 24) / 25).toInt
    val (s1, sampleJobs) = jobsDuring(Swift(tagged).sampleRows())
    assert(sampleJobs == 1)
    assert(s1.length == k, s"sample of ${s1.length} rows, expected $k")
    assert(Swift(tagged).sampleRows().toSeq == s1.toSeq)
    assert(s1.map(_.getAs[Int]("pid")).distinct.length > 1)
    assert(Swift(tagged).sampleSeed(7L).sampleRows().toSeq != s1.toSeq)

    // 16 partitions: treeReduce merges partial previews on executors first
    val wide = Swift(spark.range(0, 5000, 1, 16).withColumn("x", col("id") * 0.5))
    val (w, wideJobs) = jobsDuring(wide.sampleRows())
    assert(wideJobs == 1 && wide.nrows == 5000)
    assert(w.length == 200 && w.map(_.getLong(0)).distinct.length == 200)
  }

  test("O2: row apply with expand/reduce/broadcast shaping") {
    val d = (1 to 100).map(i => (i.toDouble, i * 2.0)).toDF("a", "b")
    val expand = Swift(d).applyRows("r")(
      r => Seq(r.getDouble(0) + r.getDouble(1), r.getDouble(0) - r.getDouble(1)),
      resultType = ResultType.Expand(Seq("s", "dd")))
    assert(expand.columns.toSet == Set("a", "b", "s", "dd"))
    assert(expand.filter(col("s") =!= col("a") + col("b")).count() == 0)

    val reduce = Swift(d).applyRows("r")(
      r => Seq(r.getDouble(0), r.getDouble(1)), resultType = ResultType.Reduce)
    assert(reduce.schema("r").dataType.isInstanceOf[ArrayType])

    val bcast = Swift(d).applyRows("r")(
      r => Seq(r.getDouble(0) * 10, r.getDouble(1) * 10),
      resultType = ResultType.Broadcast)
    assert(bcast.columns.toSet == Set("a", "b"))
    assert(bcast.select(sum("a")).head.getDouble(0)
      == d.select(sum(col("a") * 10)).head.getDouble(0))
  }

  test("O3: applymap applies one function across listed columns") {
    val d = (1 to 50).map(i => (i.toDouble, i * 2.0, s"s$i")).toDF("a", "b", "c")
    val out = Swift(d).applymap[Double, Double](_ * 2,
      vectorized = Some(c => c * 2), columns = Seq("a", "b"))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    assert(out.select(sum("b")).head.getDouble(0)
      == d.select(sum(col("b") * 2)).head.getDouble(0))
  }

  test("O4: groupBy.apply arbitrary per-group function (group-complete)") {
    val d = (1 to 1000).map(i => (i % 7L, i.toDouble)).toDF("g", "x")
    val out = Swift(d).groupBy("g").apply(
      StructType(Seq(StructField("g", LongType), StructField("mx", DoubleType)))) {
      (k, rows) => Iterator.single(Row(k.getLong(0), rows.map(_.getDouble(1)).max))
    }
    val expect = d.groupBy("g").agg(max("x").as("mx"))
    assert(out.orderBy("g").collect().sameElements(expect.orderBy("g").collect()))
  }

  test("K6: output type inferred from sample (string result)") {
    val d = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "x")
    val out = Swift(d).applyRows("s")(r => "v" + r.getLong(0))
    assert(out.schema("s").dataType == StringType)
    assert(out.filter(col("s") === "v7").count() == 1)
  }

  test("K6: map-valued results infer MapType (nested-dict edge case)") {
    val d = (1 to 50).map(i => (i.toLong, i.toDouble)).toDF("id", "x")
    val out = Swift(d).applyRows("m")(r => Map("v" -> r.getDouble(1)))
    assert(out.schema("m").dataType.isInstanceOf[MapType])
    assert(out.selectExpr("m['v']").as[Double].collect().sum
      == d.select(sum("x")).head.getDouble(0))
  }

  test("K8: progress listener attach/detach leaves results intact") {
    val wrong = graft.core.Progress.withProgress(spark, enabled = true, "spec-progress") {
      Swift(df).applyScalar[Double, Double]("x", "y")(v => v + 1)
        .filter(col("y") =!= col("x") + 1).count()
    }
    assert(wrong == 0)
  }

  test("K8: progress listener counters observe real task completion") {
    val l = new graft.core.ProgressListener("spec-count")
    spark.sparkContext.addSparkListener(l)
    try {
      spark.range(0, 100000, 1, 8).selectExpr("sum(id)").collect()
      // listener bus delivers asynchronously; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (l.tasksDone == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(l.tasksDone > 0, "no task-end events observed")
      assert(l.tasksTotal > 0, "no job-start task announcement observed")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

/** Top-level for Encoder derivation in the typed-facade test. */
case class P(id: Long, x: Double)
