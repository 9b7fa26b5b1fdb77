package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.SessionDefaults.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // Testdata-drift preflight: schema-only diff of every table against
    // the frozen consumed snapshot. A regeneration that changes any
    // column prints named lines here (and lands in errors.json below)
    // instead of surfacing as N opaque per-query analysis errors.
    val drift = queries.Tables.driftReport(spark, sfDir) ++
      queries.Tables.contentDriftReport(spark, sfDir)
    if (drift.isEmpty) System.err.println(s"[verify] preflight: ${queries.Tables.expectedSchemas.size} table schemas + content fingerprints match the frozen snapshot")
    else drift.foreach(d => System.err.println(s"[verify] TESTDATA DRIFT: $d"))

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(3).mkString(" / ")
      } finally { // see Bench: drop per-query caches + tracked registry
        graft.core.Caches.release()
        spark.catalog.clearCache()
      }
    }
    def q(s: String): String = queries.Tables.jsonEscape(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure visibility: queries that error at analysis are otherwise
    // just ABSENT from the correctness artifact (no parquet dir → the
    // driver's compare omits them) — a third of the suite vanished that
    // way once with the root cause visible only in a truncated stderr
    // tail. errors.json names every failed query and any schema drift.
    val errJson = (drift match {
      case Nil => errors
      case d => errors += ("_preflight_drift" -> d.mkString(" | "))
    }).map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
