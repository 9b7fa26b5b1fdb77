package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Contracts for the behavioral-analytics query shapes (funnel, cohort,
  * blocked fuzzy join): stage ORDER must be enforced (a click before
  * the first view does not advance the funnel), week arithmetic is
  * integer floor division, and blocking must not cost recall on
  * length-preserving typos. */
class BehavioralSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("funnel: stages only count strictly after the previous stage") {
    val ev = Seq(
      // user 1: view -> click -> purchase, in order
      (1L, ts("2024-01-01 00:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 01:00:00"), 1L, "click"),
      (3L, ts("2024-01-01 02:00:00"), 1L, "purchase"),
      // user 2: click BEFORE the first view — funnel stalls at view
      (4L, ts("2024-01-01 00:30:00"), 2L, "click"),
      (5L, ts("2024-01-01 01:30:00"), 2L, "view"),
      // user 3: view then purchase with NO click — purchase can't count
      (6L, ts("2024-01-01 00:00:00"), 3L, "view"),
      (7L, ts("2024-01-01 01:00:00"), 3L, "purchase"),
      // user 4: never views — absent from the funnel entirely
      (8L, ts("2024-01-01 00:00:00"), 4L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val dir = SparkSpec.tempDir("graft_funnel").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.RelationalQueries.queries("rel_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1) > 0, r.getLong(2) > 0, r.getLong(3) > 0)).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((true, true, true)))
    assert(out(2L) == ((true, false, false)))
    assert(out(3L) == ((true, false, false)))
  }

  test("streaming funnel twin equals batch rel_funnel, incl. out-of-order stages") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 01:00:00"), 1L, "click"),
      (3L, ts("2024-01-01 02:00:00"), 1L, "purchase"),
      (4L, ts("2024-01-01 00:30:00"), 2L, "click"), // click precedes view
      (5L, ts("2024-01-01 01:30:00"), 2L, "view"),
      (6L, ts("2024-01-01 00:00:00"), 3L, "view"),
      (7L, ts("2024-01-01 01:00:00"), 3L, "purchase"), // no click stage
      (8L, ts("2024-01-01 00:00:00"), 4L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val dir = SparkSpec.tempDir("graft_sfunnel").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = rows(graft.queries.RelationalQueries.queries("rel_funnel")(spark, dir))
    val stream = rows(graft.streaming.StreamOps.funnelOnce(spark, dir,
      sinkName = "stream_funnel_spec_sink"))
    assert(batch.nonEmpty && stream == batch)
    // and the Spark 4 transformWithState (RocksDB ValueState) twin agrees
    val tws = rows(graft.streaming.StreamOps.funnelOnceTws(spark, dir,
      sinkName = "stream_funnel_tws_spec_sink"))
    assert(tws == batch)
  }

  test("cohort: offsets are whole weeks from each user's first-event week") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view"), // cohort week W
      (2L, ts("2024-01-09 00:00:00"), 1L, "view"), // W+1 (8 days later)
      (3L, ts("2024-01-16 00:00:00"), 1L, "view"), // W+2
      (4L, ts("2024-01-10 00:00:00"), 2L, "view")  // user 2: cohort W+1
    ).toDF("event_id", "ts", "user_id", "event_type")
    val dir = SparkSpec.tempDir("graft_cohort").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.RelationalQueries.queries("rel_cohort")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w0 = out.keys.map(_._1).min
    // user 1 active in offsets 0/1/2 of week w0; user 2 in offset 0 of w0+1
    assert(out == Map(
      (w0, 0L) -> 1L, (w0, 1L) -> 1L, (w0, 2L) -> 1L,
      (w0 + 1L, 0L) -> 1L))
    // the transformWithState streaming twin produces the same matrix
    val stream = graft.streaming.StreamOps.cohortOnceTws(spark, dir,
        sinkName = "stream_cohort_spec_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(stream == out)
  }

  test("pageRank: hand-computed chain graph, hub ranks highest") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    val out = graft.operators.Dedup.pageRank(pairs, "da", "db", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver mirror of the integer recurrence (deg: 1->1, 2->2, 3->1)
    var r = Map(1L -> 1000L, 2L -> 1000L, 3L -> 1000L)
    val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 1L)
    val in = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    for (_ <- 1 to 3) {
      r = in.map { case (n, srcs) =>
        n -> (150L + 850L * srcs.map(s => r(s) / deg(s)).sum / 1000L)
      }
    }
    assert(out == r, s"got $out want $r")
    assert(out(2L) > out(1L) && out(2L) > out(3L))
  }

  test("twap: hand-computed piecewise-constant integral; single events drop") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00.000000"), 1L, "view", 1.0),
      (2L, ts("2024-01-01 00:00:00.000010"), 1L, "view", 3.0),
      (3L, ts("2024-01-01 00:00:00.000040"), 1L, "view", 9.9),
      (4L, ts("2024-01-01 00:00:00"), 2L, "view", 5.0) // single event
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = SparkSpec.tempDir("graft_twap").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.queries.RelationalQueries.queries("rel_twap")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // 1.0 holds 10us, 3.0 holds 30us, 9.9 holds nothing
    assert(out.keySet == Set(1L))
    assert(out(1L) == ((1000.0 * 10 + 3000.0 * 30) / 40 / 1000.0, 40L))
  }

  test("fuzzy join: blocked result equals the unblocked brute match") {
    val part = graft.queries.Tables.t(spark, sf001, "part")
    val blocked = graft.queries.RelationalQueries
      .queries("rel_fuzzy_join")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    val names = part.select("p_partkey", "p_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = Seq("smal ring", "red widgot", "blue blot", "hot gearr")
      .flatMap { probe =>
        val c = names.map { case (k, n) => (k, lev(probe, n)) }
          .filter(_._2 <= 2)
        if (c.isEmpty) None
        else Some { val best = c.minBy(x => (x._2, x._1))
          (probe, best._1, best._2.toLong) }
      }.toSet
    assert(brute.nonEmpty)
    assert(blocked == brute, s"blocked=$blocked brute=$brute")
  }
}
