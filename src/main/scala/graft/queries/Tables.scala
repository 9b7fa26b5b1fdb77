package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType, TimestampNTZType, TimestampType}

/** Shared helpers for the declared query set (SparkEntry.queries).
  *
  * Determinism discipline for the DuckDB-oracle hash compare:
  *  - Floating aggregates accumulate in exact DECIMAL (order-independent)
  *    and cast back to DOUBLE at the end, so Spark and DuckDB agree
  *    bit-for-bit no matter how the partial aggregates are ordered.
  *  - Timestamps are emitted as epoch microseconds (BIGINT) — avoids
  *    tz-annotation mismatches between Spark parquet and DuckDB results.
  *  - Every result carries an ORDER BY on a unique key.
  */
object Tables {
  /** Load a testdata table, normalizing `ts` via [[normalizeTs]].
    *
    * Requires `spark.sql.legacy.parquet.nanosAsLong=true` on the session
    * (every main/spec bootstrap sets it in its builder) so a
    * TIMESTAMP(NANOS) encoding surfaces as LongType instead of a reader
    * refusal — `t` itself never mutates session conf. The read takes
    * its schema from [[schema]], so loading a table starts no Spark job. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    normalizeTs(spark.read.schema(schema(spark, p)).parquet(p))
  }

  /** The schema `spark.read.parquet(path)` would infer, read from one
    * parquet footer on the driver. `path` is a file or a directory of
    * part files; names starting with `_` or `.` are skipped and the first
    * remaining file by name is read, the one inference reads. Inference
    * itself runs a Spark job per read (86–90 ms median on 4 vCPUs against
    * 11–18 ms for the footer); the schema comes from Spark's own
    * `ParquetFileFormat.readSchema` on that same footer. */
  def schema(spark: SparkSession, path: String): StructType = {
    val conf = GraftParquetBridge.hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val file =
      if (!st.isDirectory) st
      else fs.listStatus(p)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.toString).headOption
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no parquet part file in $path"))
    GraftParquetBridge.footerSchema(spark, conf, file)
  }

  /** Normalize a `ts` column to session-tz TimestampType regardless of
    * the physical encoding the testdata generator used this round. The
    * generator has shipped three encodings across rounds:
    *  - parquet TIMESTAMP(NANOS) → LongType raw nanos (under the
    *    nanosAsLong conf); floor to µs — exactly DuckDB's ns→µs narrowing,
    *    so both engines see identical values;
    *  - timestamp[us] without timezone → TimestampNTZType; cast to
    *    TimestampType (sessions pin UTC, so the instant is unchanged and
    *    DuckDB reads the same wall-clock values);
    *  - plain TimestampType → passthrough.
    * Tables without a `ts` column pass through untouched. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Frozen logical schema (column -> Spark `simpleString` dtype, in
    * column order) for every testdata table as CONSUMED by the query set
    * — i.e. after [[normalizeTs]]. The testdata generator regenerates the
    * parquet between rounds and has silently changed physical encodings
    * before (the `ts` drift zeroed 29 queries in one round); the drift
    * canary ([[driftReport]], run by TestdataDriftSpec and as a Verify/
    * Bench preflight) diffs against this snapshot so any regeneration
    * that changes ANY column surfaces as one clear named failure instead
    * of N downstream query errors. */
  val expectedSchemas: Seq[(String, Seq[(String, String)])] = Seq(
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
      "props" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp_ntz"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"))

  /** Testdata-drift canary: diff each table's consumed schema (after
    * [[normalizeTs]]) against [[expectedSchemas]]. Returns one line per
    * drifted/missing/extra column — empty means no drift. Each line
    * carries the RAW pre-normalization Spark schema so the message names
    * the generator's new physical encoding directly (this is the
    * diagnosis that took a full round to make when `ts` drifted).
    * Schema-only (parquet footers); reads no data. */
  def driftReport(spark: SparkSession, dir: String): Seq[String] =
    expectedSchemas.flatMap { case (table, want) =>
      try {
        val raw = spark.read.parquet(s"$dir/$table.parquet")
        val got = normalizeTs(raw).schema.map(f => f.name -> f.dataType.simpleString)
        if (got == want) Nil
        else {
          val gotM = got.toMap
          val wantM = want.toMap
          val diffs =
            want.collect { case (n, t) if !gotM.contains(n) => s"column $n ($t) missing" } ++
            got.collect { case (n, t) if !wantM.contains(n) => s"unexpected column $n ($t)" } ++
            want.collect { case (n, t) if gotM.get(n).exists(_ != t) =>
              s"column $n: expected $t, got ${gotM(n)}" }
          val rawS = raw.schema.map(f => s"${f.name}=${f.dataType.simpleString}")
            .mkString(", ")
          diffs.map(d => s"$table: $d [raw parquet reads as: $rawS]")
        }
      } catch {
        case e: Throwable => Seq(s"$table: unreadable — ${e.getMessage}")
      }
    }

  /** Content fingerprint of a consumed table: (row count, decimal string
    * of the exact sum of xxhash64 over all columns). Order- and
    * layout-invariant (a commutative sum over rows), encoding-invariant
    * where [[normalizeTs]] normalizes, and exact — the sum accumulates
    * in DECIMAL(38,0) because an ANSI Long sum of 64-bit hashes
    * overflows. One cheap column-pruned-nothing scan per table. */
  def contentFingerprint(spark: SparkSession, dir: String,
      table: String): (Long, String) = {
    val df = t(spark, dir, table)
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*).cast(DecimalType(38, 0))
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  /** Frozen content fingerprints per scale-factor directory (captured
    * r11). The SCHEMA canary ([[driftReport]]) names an encoding change;
    * this names a CONTENT regeneration — same schema, different rows —
    * which would silently change every oracle hash and read as 207
    * individual query failures instead of one preflight line. */
  val expectedContent: Map[String, Seq[(String, (Long, String))]] = Map(
    "sf0.001" -> Seq(
      "customer" -> (150L, "51622904737525326623"),
      "documents" -> (500L, "-74213727264358347910"),
      "embeddings" -> (500L, "-4705625121258813846"),
      "events" -> (1000L, "-85025696820859273702"),
      "lineitem" -> (6000L, "175784088225920189303"),
      "nation" -> (25L, "-19822004785370969197"),
      "orders" -> (1500L, "203934698655393158936"),
      "part" -> (200L, "-77640353919929694781"),
      "region" -> (5L, "7370162031071439404"),
      "supplier" -> (10L, "-11511707324009403489")),
    "sf0.01" -> Seq(
      "customer" -> (1500L, "108061532035498236417"),
      "documents" -> (500L, "264427379249148215134"),
      "embeddings" -> (500L, "97447353315374468931"),
      "events" -> (10000L, "-484280014279654650383"),
      "lineitem" -> (60000L, "517231841118322272173"),
      "nation" -> (25L, "-19822004785370969197"),
      "orders" -> (15000L, "79032017979703365056"),
      "part" -> (2000L, "-76480512220046322142"),
      "region" -> (5L, "7370162031071439404"),
      "supplier" -> (100L, "-46750936102961366159")),
    "sf0.1" -> Seq(
      "customer" -> (15000L, "-520937320634263258594"),
      "documents" -> (5000L, "-472337324480471751700"),
      "embeddings" -> (2000L, "131320058825825624890"),
      "events" -> (100000L, "-2064053943269937596715"),
      "lineitem" -> (600000L, "628714472224263726084"),
      "nation" -> (25L, "-19822004785370969197"),
      "orders" -> (150000L, "-1092496024660149528024"),
      "part" -> (20000L, "-124353220491432265324"),
      "region" -> (5L, "7370162031071439404"),
      "supplier" -> (1000L, "70448349887104000704")))

  /** Data-content drift canary: recompute [[contentFingerprint]] for
    * every table of the sf directory (matched by basename) and diff
    * against [[expectedContent]]. Empty result = no drift, or an
    * unknown directory (respooled temp copies have no baseline). */
  def contentDriftReport(spark: SparkSession, dir: String): Seq[String] = {
    val sfName = new java.io.File(dir).getName
    expectedContent.get(sfName).toSeq.flatten.flatMap {
      case (table, (wantN, wantH)) =>
        try {
          val (gotN, gotH) = contentFingerprint(spark, dir, table)
          if (gotN == wantN && gotH == wantH) Nil
          else Seq(s"$sfName/$table: CONTENT drift — rows $wantN -> $gotN, " +
            s"checksum ${wantH.take(12)}.. -> ${gotH.take(12)}.. " +
            "(regenerated data: every oracle hash may legitimately differ)")
        } catch {
          case e: Throwable => Seq(s"$sfName/$table: unreadable — ${e.getMessage}")
        }
    }
  }

  /** JSON string escape shared by the Verify/Bench artifact writers:
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL or an error message would otherwise make the
    * driver's json.load fail and silently zero the round's artifact.
    * ONE definition: two hand-rolled escapers drifted once already. */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Exact decimal-accumulated sum of a double column, returned as DOUBLE.
    * SQL mirror: CAST(sum(CAST(x AS DECIMAL(20,6))) AS DOUBLE). */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(20, 6))).cast("double")

  /** SQL-side mirror of [[dsum]]. */
  def dsumSql(expr: String): String =
    s"CAST(sum(CAST($expr AS DECIMAL(20,6))) AS DOUBLE)"

  /** Timestamp → epoch microseconds (BIGINT). SQL mirror: epoch_us(ts). */
  def epochUs(c: Column): Column = unix_micros(c)

  private val tmpDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Per-(prefix, input-dir) CACHED temp directory: repeated query
    * invocations (bench loops, repeated correctness runs) reuse one
    * directory instead of leaking a fresh /tmp entry per call; a
    * shutdown hook removes it at JVM exit. Callers write with
    * mode("overwrite"), so reuse is safe. */
  def cachedTempDir(prefix: String, dir: String): String =
    tmpDirs.computeIfAbsent((prefix, dir), _ => {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      deleteOnExit(p)
      p.toString
    })

  // ONE shutdown hook draining a shared set: registering a fresh hook per
  // call would accumulate unbounded hooks (each pinning its Path) across
  // long bench loops — e.g. the streaming parquet sink creates a new temp
  // dir on every run.
  private val exitPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val exitHook: Unit = {
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      exitPaths.forEach(p => rm(p.toFile))
    }
    ()
  }

  /** Best-effort recursive delete of `p` at JVM exit. */
  def deleteOnExit(p: java.nio.file.Path): Unit = {
    exitHook
    exitPaths.add(p)
    ()
  }
}
