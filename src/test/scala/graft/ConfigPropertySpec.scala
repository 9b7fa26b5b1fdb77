package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.{Swift, SwiftConfig, SwiftDefaults, SwiftParallel, SwiftStrategy, SwiftTyped}
import graft.functions.GraftFunctions

/** K7/K9/O7 parity + the SURVEY §5 ScalaCheck property: every selector
  * strategy yields the identical result (selection is observationally
  * invisible, reference swifter_tests.py:95-105). */
class ConfigPropertySpec extends SparkSpec {
  import spark.implicits._

  test("K9: global defaults flow into new handles and reset") {
    SwiftDefaults.set(SwiftConfig(thresholdSec = 42.0, sampleSize = 7))
    try {
      val sw = Swift(Seq((1L, 1.0)).toDF("id", "x"))
      assert(sw.cfg.thresholdSec == 42.0 && sw.cfg.sampleSize == 7)
    } finally SwiftDefaults.reset()
    assert(Swift(Seq((1L, 1.0)).toDF("id", "x")).cfg == SwiftConfig())
  }

  test("O7: parallel accessor never takes the driver-local route") {
    val d = (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "x")
    val out = SwiftParallel(d).applyScalar[Double, Double]("x", "y")(v => v + 1)
    assert(Swift.decisions(out).map(_.route) == Seq(SwiftStrategy.Parallel))
  }

  test("K6: convert_dtype=False leaves the dynamic result as opaque strings") {
    val d = (1 to 40).map(i => (i.toLong, i * 1.0)).toDF("id", "x")
    // default (convert_dtype=True): runtime Long results → inferred LongType
    val inferred = Swift(d).applyRows("y") { r => r.getAs[Double]("x").toLong * 2 }
    assert(inferred.schema("y").dataType == org.apache.spark.sql.types.LongType)
    // convert_dtype=False, no declared type: no inference — opaque string
    // rendering (the pandas dtype=object analog)
    val opaque = Swift(d).convertDtype(false)
      .applyRows("y") { r => r.getAs[Double]("x").toLong * 2 }
    assert(opaque.schema("y").dataType == org.apache.spark.sql.types.StringType)
    assert(opaque.orderBy("id").select("y").as[String].collect().toSeq ==
      (1 to 40).map(i => (i.toLong * 2).toString))
    // convert_dtype=False + declared type: declared wins, no stringifying
    val declared = Swift(d).convertDtype(false)
      .applyRows("y")(r => r.getAs[Double]("x").toLong * 2,
        outType = Some(org.apache.spark.sql.types.LongType))
    assert(declared.schema("y").dataType == org.apache.spark.sql.types.LongType)
  }

  test("K7: probe runs execute the function with output suppressed") {
    val d = (1 to 3000).map(i => (i.toLong, i * 1.0)).toDF("id", "x")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    // function prints; probes must not leak to console (can't capture
    // console portably here, but the call must not throw and must stay
    // correct despite the side effect — the documented impure-fn caveat)
    val out = Swift(d).applyScalar[Double, Double]("x", "y") { v =>
      counter.incrementAndGet(); v * 3
    }
    assert(out.filter(col("y") =!= col("x") * 3).count() == 0)
  }

  test("SQL registration: graft_* functions usable from spark.sql") {
    GraftFunctions.register(spark)
    spark.read.parquet(s"$sf001/documents.parquet").createOrReplaceTempView("docs_v")
    val r = spark.sql(
      """SELECT doc_id, graft_simhash(graft_shingles(graft_word_hashes(text))) AS sh
        |FROM docs_v ORDER BY doc_id LIMIT 5""".stripMargin).collect()
    assert(r.length == 5 && r.forall(!_.isNullAt(1)))
    spark.read.parquet(s"$sf001/embeddings.parquet").createOrReplaceTempView("emb_v")
    val sig = spark.sql(
      """SELECT vec_id, graft_hyperplane_sig(
        |    transform(cast(embedding AS array<double>), x -> cast(round(x*1000000) AS bigint)),
        |    4, 8, 64) AS sig
        |FROM emb_v ORDER BY vec_id LIMIT 3""".stripMargin).collect()
    assert(sig.length == 3 && sig.forall(_.getAs[Seq[Long]]("sig").length == 4))
  }

  private def captureErr(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(buf, true)) { body }
    buf.toString
  }

  test("O5 guard: unpartitioned windows over a distributed input warn; partitioned/local stay silent") {
    val ev = queries.Tables.t(spark, sf001, "events")
    // every O5-family constructor fires the guard when partitionBy = Nil
    // over a file-backed input (a global window sorts ALL data in 1 task)
    assert(captureErr { Swift(ev).rolling(3, Seq("ts", "event_id")) }
      .contains("WARNING"))
    assert(captureErr { Swift(ev).expanding(Seq("ts", "event_id")) }
      .contains("WARNING"))
    assert(captureErr { Swift(ev).ewm(0.5, Seq("ts", "event_id")) }
      .contains("WARNING"))
    assert(captureErr { Swift(ev).rollingTime("1 hour", "ts") }
      .contains("WARNING"))
    assert(captureErr { Swift(ev).rollingWeighted(5, "triang", Seq("ts")) }
      .contains("WARNING"))
    // partitioned spec: silent
    assert(captureErr {
      Swift(ev).rolling(3, Seq("ts", "event_id"), partitionBy = Seq("user_id"))
    }.isEmpty)
    // driver-local input (LocalRelation leaves): silent — pandas-sized
    // data is exactly where a global order is legitimate
    val local = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "x")
    assert(captureErr { Swift(local).rolling(3, Seq("id")) }.isEmpty)
    assert(captureErr { Swift(local).ewm(0.5, Seq("id")) }.isEmpty)
  }

  test("O5 strict mode: failOnGlobalWindow turns the guard into a plan-time throw") {
    val ev = queries.Tables.t(spark, sf001, "events")
    // strict: unpartitioned window over a distributed input throws at
    // plan-build time (100 TB = executor OOM, not a slow query) — BEFORE
    // any job launches
    val e = intercept[IllegalArgumentException] {
      Swift(ev).failOnGlobalWindow().rolling(3, Seq("ts", "event_id"))
    }
    assert(e.getMessage.contains("failOnGlobalWindow"))
    intercept[IllegalArgumentException] {
      Swift(ev).failOnGlobalWindow().ewm(0.5, Seq("ts", "event_id"))
    }
    // a partitioned window under strict mode still plans fine
    Swift(ev).failOnGlobalWindow()
      .rolling(3, Seq("ts", "event_id"), partitionBy = Seq("user_id"))
    // local inputs stay exempt even under strict mode (pandas-sized data
    // is exactly where a global order is legitimate)
    val local = (1 to 50).map(i => (i.toLong, i.toDouble)).toDF("id", "x")
    Swift(local).failOnGlobalWindow().rolling(3, Seq("id"))
  }

  test("O4: groupByIndex groups by the explicit index column; attaches one when absent") {
    // frame already carrying an index column: grouped by it directly
    val withIdx = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0))
      .toDF("index", "x")
    val g = Swift(withIdx).groupByIndex().agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(g.toSeq == Seq((1L, 2L), (2L, 1L)))
    // frame WITHOUT an index: a stable 0-based row index is attached —
    // every row forms its own group (pandas groupby on a unique
    // RangeIndex), so each group counts exactly 1
    val noIdx = Seq(3.0, 4.0, 5.0).toDF("x")
    val g2 = Swift(noIdx).groupByIndex().agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(g2.toSeq == Seq((0L, 1L), (1L, 1L), (2L, 1L)))
  }

  test("K6: applyAuto schema probe draws from the K1 sample, not a per-key re-scan") {
    val li = queries.Tables.t(spark, sf001, "lineitem")
    // the fn indexes rows and the key BY NAME: the driver-side probe
    // rows must carry a schema exactly like the encoder-decoded rows
    // the distributed flatMapGroups sees (r8 shipped schema-less
    // GenericRow probe rows because this test only indexed positionally)
    val (planned, jobs) = jobsDuring {
      Swift(li).groupBy("l_returnflag").select("l_quantity")
        .applyAuto(names = Seq("rf", "sq")) { (k, rows) =>
          var sq = 0.0
          rows.foreach(r => sq += r.getAs[Double]("l_quantity"))
          Iterator.single(org.apache.spark.sql.Row(
            k.getAs[String]("l_returnflag"), sq))
        }
    }
    // probe cost: the one preview job, which also gives the row count
    // the groupBy routing reads — NOT a limit-probe plus a full
    // filter(key) scan of the input per inferred schema
    assert(jobs == 1, s"applyAuto probe launched $jobs jobs")
    assert(planned.schema.fieldNames.toSeq == Seq("rf", "sq"))
    assert(planned.count() == 3) // three return flags
  }

  test("K6 applyAuto: empty probe output names apply(outSchema) as the escape hatch") {
    // a legitimate fn may return zero rows for the (sampled, possibly
    // sparse) probe group — the error must point at the declared-schema
    // fallback instead of just rejecting
    val d = (1 to 100).map(i => (i.toLong, i % 3)).toDF("id", "g")
    val e = intercept[IllegalArgumentException] {
      Swift(d).groupBy("g").applyAuto() { (_, _) => Iterator.empty }
    }
    assert(e.getMessage.contains("apply(outSchema)"))
  }

  test("K6 applyAuto: array-typed group keys compare structurally in the probe") {
    // Array[_].== is reference equality; without deep normalization the
    // probe group silently collapses to ~1 row (and an all-null sample
    // would make TypeInfer throw). The distributed groupByKey path groups
    // by encoded value semantics, so the probe must match it.
    val d = (1 to 60).map(i => (i.toLong, Array(i % 2, 7), i * 1.0))
      .toDF("id", "k", "x")
    val out = Swift(d).groupBy("k").applyAuto(names = Seq("n")) { (_, rows) =>
      Iterator.single(org.apache.spark.sql.Row(rows.size.toLong))
    }
    assert(out.count() == 2)
    assert(out.schema("n").dataType == org.apache.spark.sql.types.LongType)
  }

  test("property: selector strategies agree on arbitrary inputs (ScalaCheck gens, seeded)") {
    // every apply surface, at sizes on both sides of the preview's capacity
    // (sampleSize), under every forced route, with and without a candidate:
    // the same sorted rows, and all three routes taken somewhere. Two inputs
    // have about 1 row in 7 null: a null input gives a null output on every
    // route, and a correct candidate still passes K2
    val sampleSize = SwiftConfig().sampleSize
    val fn: Double => Double = v => if (v < 0) -v else v * 2
    val vecOf: Column => Column = c => when(c < 0, -c).otherwise(c * 2)
    val rowFn: Row => Any = r => if (r.isNullAt(1)) null else fn(r.getDouble(1))
    val handles: Seq[(String, Swift => Swift)] = Seq(
      "default" -> identity, "forceParallel" -> (_.forceParallel()),
      "threshold(0)" -> (_.threshold(0)), "threshold(1e9)" -> (_.threshold(1e9)))
    val typedHandles: Seq[SwiftTyped[PX] => SwiftTyped[PX]] = Seq(
      identity, _.forceParallel(), _.threshold(0), _.threshold(1e9))
    val routes = scala.collection.mutable.Set.empty[SwiftStrategy]
    def sorted(out: DataFrame): Seq[(Long, Option[Double])] =
      out.select("id", "y").as[(Long, Option[Double])].collect().toSeq.sortBy(_._1)

    val trials = Seq(5, sampleSize, sampleSize + 1, 5000).map(_ -> false) ++
      Seq(sampleSize, 5000).map(_ -> true)
    trials.zipWithIndex.foreach { case ((n, nulls), trial) =>
      val xs = Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6))(Gen.Parameters.default, Seed(42L + trial)).get
        .zipWithIndex.map { case (x, i) => if (nulls && i % 7 == 3) None else Some(x) }
      val expect = xs.zipWithIndex.map { case (x, i) => (i.toLong, x.map(fn)) }
      val d = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "x")
      for ((hn, h) <- handles; vec <- Seq(false, true)) {
        val calls: Seq[(String, Swift => DataFrame)] = Seq(
          "applyScalar" -> (_.applyScalar[Double, Double]("x", "y")(fn,
            if (vec) Some(vecOf(col("x"))) else None)),
          "applyRows" -> (_.applyRows("y")(rowFn,
            vectorized = if (vec) Some(vecOf(col("x"))) else None)),
          "applyRows(outType)" -> (_.applyRows("y")(rowFn,
            vectorized = if (vec) Some(vecOf(col("x"))) else None, outType = Some(DoubleType))),
          "applymap" -> (_.applymap[Double, Double](fn,
            vectorized = if (vec) Some(vecOf) else None, columns = Seq("x"))
            .withColumnRenamed("x", "y")))
        for ((cn, call) <- calls) {
          val out = call(h(Swift(d)))
          val route = Swift.decisions(out).map(_.route)
          assert(sorted(out) == expect, s"$cn diverges: n=$n nulls=$nulls $hn vec=$vec ($route)")
          routes ++= route
          if (vec && hn != "forceParallel")
            assert(route == Seq(SwiftStrategy.Vectorized), s"$cn: n=$n nulls=$nulls $hn")
          if (cn == "applyScalar" && hn == "threshold(1e9)" && !vec)
            assert(route ==
              Seq(if (n <= sampleSize) SwiftStrategy.Local else SwiftStrategy.Parallel),
              s"n=$n: the local route needs every row in the preview")
        }
      }
      val ds = xs.zipWithIndex.map { case (x, i) => PX(i.toLong, x) }.toDS()
      typedHandles.foreach { h =>
        val out = h(SwiftTyped(ds)).apply((p: PX) => (p.id, p.x.map(fn)))
        val route = Swift.decisions(out).map(_.route)
        assert(out.collect().toSeq.sortBy(_._1) == expect, s"SwiftTyped diverges: n=$n ($route)")
        routes ++= route
      }
    }
    assert(routes == Set(SwiftStrategy.Vectorized, SwiftStrategy.Parallel, SwiftStrategy.Local))
  }

}

/** Typed-facade input with a nullable field, for the route-agreement property. */
case class PX(id: Long, x: Option[Double])
