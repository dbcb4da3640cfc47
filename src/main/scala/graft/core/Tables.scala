package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md /
  * FIXTURES.md §B). One parquet file per table under the sf dir.
  *
  * Always load via these helpers so every query reads through the same
  * path: a plain parquet scan that Catalyst can push filters into and
  * prune columns from. At cluster scale the same call works unchanged
  * against a partitioned directory instead of a single file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Rows in a parquet table, from file FOOTERS on the driver — zero
    * Spark jobs, so callers can gate planning decisions for free
    * (e.g. NorthStar's small-corpus AQE gate). Listing is RECURSIVE
    * (partitioned layouts nest part files under key=val dirs), and
    * finding no parquet files at all returns Long.MaxValue: "couldn't
    * count" must read as "assume big", never as "small" — a gate's
    * failure mode should be a slower-but-safe plan. */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    if (fs.getFileStatus(p).isDirectory) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) files += f
      }
    } else files += fs.getFileStatus(p)
    if (files.isEmpty) Long.MaxValue
    else files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Inferred-schema memo, keyed by path. Parquet schema inference
    * costs a one-task footer-read job per `spark.read.parquet` call;
    * the testdata files are immutable for the life of the process, so
    * the footer is read once per path and every later load passes the
    * schema explicitly (no job). The memo is JVM-wide on purpose: a
    * bench/verify run re-reads the same table from dozens of queries
    * and across cloned sessions. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Single-file footer read on the driver — the schema of one
    * immutable file needs one FS open, not a scheduled job. Uses the
    * same MessageType→StructType converter Spark's own inference
    * runs, against the session's SQLConf (so e.g.
    * `parquet.nanosAsLong` behaves identically). Directories (a
    * partitioned table at cluster scale) fall back to Spark's
    * distributed inference, which also handles schema merge. */
  private[graft] def footerSchema(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val conf = spark.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      if (!st.isFile) spark.read.parquet(path).schema
      else {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try {
          val msg = reader.getFooter.getFileMetaData.getSchema
          new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
            spark.sessionState.conf).convert(msg)
        } finally reader.close()
      }
    } catch {
      case scala.util.control.NonFatal(_) => spark.read.parquet(path).schema
    }

  /** The parquet→Spark type conversion depends on a handful of session
    * confs; they join the memo key so two sessions with different
    * parquet semantics never share an inferred schema. */
  private def schemaKey(spark: SparkSession, path: String): String = {
    val c = spark.sessionState.conf
    val flags = Seq(
      c.getConfString("spark.sql.parquet.binaryAsString", "false"),
      c.getConfString("spark.sql.parquet.int96AsTimestamp", "true"),
      c.getConfString("spark.sql.legacy.parquet.nanosAsLong", "false"),
      c.getConfString("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
      c.getConfString("spark.sql.caseSensitive", "false"))
    path + "|" + flags.mkString(",")
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaMemo.computeIfAbsent(
      schemaKey(spark, path), _ => footerSchema(spark, path))
    spark.read.schema(schema).parquet(path)
  }

  /** Memoized footer schema of ONE parquet file at an arbitrary path
    * (same memo + driver-side footer read as [[load]]); for callers
    * that must inspect sibling files of a glob, e.g. the streaming
    * source's generation-homogeneity check. */
  def fileSchema(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    schemaMemo.computeIfAbsent(schemaKey(spark, path), _ => footerSchema(spark, path))

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** `events.ts` has shipped in two physical shapes across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark's reader
    * rejects — [PARQUET_TYPE_ILLEGAL] — so it is read as a raw long
    * via the legacy conf and truncated to microseconds with integer
    * division; `div`, not `/`: epoch-nanos exceed 2^53 and double
    * math would lose sub-µs precision) and plain timestamp[us]
    * without timezone (which Spark infers as TIMESTAMP_NTZ). Both
    * normalize here to session-local TIMESTAMP so every downstream
    * query and oracle sees one logical schema; sessions run UTC, so
    * the NTZ→LTZ cast is instant-preserving. DuckDB oracles must
    * still only compare ts at ≥ms granularity (epoch_ms / CAST AS
    * DATE), where both engines floor identically. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType | TimestampType =>
        // The NTZ→LTZ cast reinterprets the wall-clock fields in the
        // SESSION time zone; it is instant-preserving only under UTC.
        // Every entry point sets UTC, but an embedding session that
        // didn't would silently shift every event timestamp — fail
        // loudly here instead.
        requireUtcSession(spark, "events.ts TIMESTAMP_NTZ→TIMESTAMP cast")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"unsupported events.ts type: $other")
    }
  }

  /** Guard for instant-preservation-sensitive casts (events.ts here;
    * [[graft.streaming.StreamingQueries.eventsStream]] shares it).
    * Not silently self-healing (no conf.set): a non-UTC session may
    * already hold cached plans/data resolved under its zone — the
    * caller must opt into UTC at session build, as every graft entry
    * point does. */
  def requireUtcSession(spark: SparkSession, what: String): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
    val utc = tz == "UTC" || tz == "Etc/UTC" || tz == "GMT" || tz == "+00:00" || tz == "Z"
    if (!utc) throw new IllegalStateException(
      s"$what requires spark.sql.session.timeZone=UTC (got '$tz'): " +
        "the cast reinterprets wall-clock fields in the session zone and " +
        "would silently shift instants")
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
