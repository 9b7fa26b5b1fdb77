package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Reference fingerprints, recorded by `reference.py` from results that
  * the DuckDB oracle found exact. The file maps a data key (the staged
  * tables a workload reads) to query name → fingerprint. */
object Reference {
  def load(path: String, dataKey: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      Option(root.get(dataKey)).toSeq.flatMap(_.properties.asScala)
        .map(e => e.getKey -> e.getValue.asText).toMap
    }
  }

  /** Prints `<path> <fingerprint>` for each parquet file or directory
    * named on the command line, so `reference.py` fingerprints the
    * oracle's results with the same code the benchmark checks with. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args.foreach(p => println(s"$p ${Fingerprint.of(spark.read.parquet(p))}"))
    finally spark.stop()
  }
}
