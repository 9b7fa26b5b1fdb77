package graft

import org.apache.spark.sql.types.TimestampType

/** Testdata-drift canary: the driver regenerates /root/testdata between
  * rounds and has changed physical column encodings before (events.ts
  * shipped as TIMESTAMP(NANOS) one round and timestamp[us]-no-tz the
  * next, silently breaking every time-based query at analysis). This
  * spec pins the CONSUMED schema of every table, so the next
  * regeneration costs one clearly-named test failure instead of ~30
  * opaque query drops. */
class TestdataDriftSpec extends SparkSpec {

  test("every testdata table matches the frozen consumed schema") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val drift = queries.Tables.driftReport(spark, dir)
      assert(drift.isEmpty,
        s"\nTESTDATA DRIFT in $dir — update Tables.normalizeTs/" +
          s"expectedSchemas for the new encoding:\n  ${drift.mkString("\n  ")}")
    }
  }

  test("every testdata table matches the frozen content fingerprint") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val drift = queries.Tables.contentDriftReport(spark, dir)
      assert(drift.isEmpty,
        s"\nTESTDATA CONTENT DRIFT in $dir — the generator reshuffled " +
          "rows under an unchanged schema (every oracle hash may " +
          s"legitimately differ); re-freeze Tables.expectedContent:\n  " +
          drift.mkString("\n  "))
    }
  }

  test("Tables.t starts no Spark job and reads the schema inference would") {
    val sf01 = s"${new java.io.File(sf001).getParent}/sf0.01"
    for (dir <- Seq(sf001, sf01); (table, _) <- queries.Tables.expectedSchemas) {
      val (df, jobs) = jobsDuring(queries.Tables.t(spark, dir, table))
      assert(jobs === 0, s"$dir/$table")
      val inferred = queries.Tables.normalizeTs(
        spark.read.parquet(s"$dir/$table.parquet"))
      assert(df.schema === inferred.schema, s"$dir/$table")
    }
  }

  test("events.ts lands as session-tz TimestampType after Tables.t") {
    val ts = queries.Tables.t(spark, sf001, "events").schema("ts").dataType
    assert(ts == TimestampType,
      s"ts normalized to $ts, not TimestampType — unix_micros/window " +
        "calls across the query set will fail analysis")
  }
}
