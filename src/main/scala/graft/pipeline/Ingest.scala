package graft.pipeline

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.sources.v2.ManifestFileIndex

/** Landing-zone discovery, file-level schema validation and CSV scan
  * (reference O1/O5/O6/O15).
  *
  * The reference's validation is *file-level, not row-level*: a chunk
  * missing any required column is skipped whole with a warning
  * (`cocoa_processing_dag.py:187-190`); rows are never filtered. We
  * reproduce that by checking each file's header line before reading.
  *
  * Column binding is BY NAME, like the reference's pandas — files
  * whose headers carry all required columns load correctly regardless
  * of column order or extra columns. (A naive
  * `spark.read.schema(s).csv(files)` binds positionally when
  * `enforceSchema` is true, silently misparsing reordered files that
  * passed a set-based header check.) Files are grouped by their exact
  * header sequence; each group is read with an all-string positional
  * schema named from its header, then projected+cast by name —
  * usually one group, so still one scan.
  *
  * Scale: ingest's file metadata costs no Spark job. The header
  * check reads one line per file on the driver and records each
  * valid file's size and mtime from the same open. Each header group's scan is then planned over exactly
  * those entries, so nothing is listed again at planning (a plain
  * `csv(paths: _*)` starts a parallel listing job above 32 paths).
  * Spark still splits and schedules the scan natively, replacing the
  * reference's manual 50k-row chunking and 5-file batching (O3).
  */
object Ingest {

  /** `fileStats` holds each valid file's (size, mtime) as the header
    * check saw it; [[readCsv]] plans the scan from it. */
  final case class Discovery(
      valid: Seq[String],
      quarantined: Seq[String],
      headers: Map[String, Seq[String]],
      fileStats: Map[String, (Long, Long)] = Map.empty)

  /** List `*.csv` under the landing dir (reference
    * `check_for_files`, `cocoa_processing_dag.py:56-86`). */
  def discoverCsv(spark: SparkSession, landingDir: String): Seq[String] = {
    val path = new Path(landingDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".csv"))
      .map(_.getPath.toString)
      .sorted
  }

  /** RFC-4180-tolerant header cell cleanup: strip BOM and optional
    * quoting (a quoted or BOM-prefixed header must not quarantine a
    * file Spark's CSV parser would read fine). */
  private[pipeline] def cleanHeaderCell(raw: String): String = {
    val t = raw.replace("\uFEFF", "").trim
    if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
      t.substring(1, t.length - 1).trim
    else t
  }

  /** One header line and the file's (size, mtime), cheaply: stat,
    * open, read the first line, close. The status rides the open, so
    * an object store answers both with one metadata request. The
    * caller passes the SESSION's Hadoop conf: a bare
    * `new Configuration()` would drop every `spark.hadoop.*` setting —
    * object-store credentials, custom scheme bindings — and only
    * appears to work locally because Hadoop's FileSystem cache is
    * keyed by scheme, not by conf. An unreadable file yields an empty
    * header, which quarantines it. */
  private def readHeader(p: String, conf: Configuration): (String, Option[(Long, Long)]) =
    try {
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val st = fs.getFileStatus(path)
      val in = new BufferedReader(new InputStreamReader(
        fs.openFile(path).withFileStatus(st).build().get(), StandardCharsets.UTF_8))
      val line = try Option(in.readLine()).getOrElse("") finally in.close()
      (line, Some((st.getLen, st.getModificationTime)))
    } catch { case _: Exception => ("", None) }

  /** Partition discovered files into header-valid vs quarantined.
    * Headers are read one line per file, no full scan, on the driver.
    * Missing required columns ⇒ quarantine the whole file; extra
    * columns and reordering are tolerated (the reference only checks
    * the missing set, `cocoa_processing_dag.py:31-35,187-190`; its
    * pandas reader binds by name). */
  def validateHeaders(spark: SparkSession, files: Seq[String]): Discovery = {
    if (files.isEmpty) return Discovery(Seq.empty, Seq.empty, Map.empty)
    val required = CocoaSchema.requiredColumns
    val conf = spark.sessionState.newHadoopConf()
    val parsed = files.map { p =>
      val (h, stat) = readHeader(p, conf)
      (p, h.split(",", -1).map(cleanHeaderCell).toSeq, stat)
    }
    val (ok, bad) = parsed.partition { case (_, cols, _) =>
      (required -- cols.toSet).isEmpty
    }
    Discovery(
      valid = ok.map(_._1).sorted,
      quarantined = bad.map(_._1).sorted,
      headers = ok.map(f => f._1 -> f._2).toMap,
      fileStats = ok.flatMap(f => f._3.map(f._1 -> _)).toMap)
  }

  /** Read the surviving files with BY-NAME column binding: group by
    * exact header sequence, read each group with an all-string schema
    * in the file's own column order, project the required columns by
    * name and cast to the canonical types. Extra columns are dropped;
    * rows whose key fails to parse are removed (the reference's
    * Postgres PK would reject them — `cocoa_processing_dag.py:159`).
    *
    * Planning lists nothing and submits no Spark job: each group's
    * scan runs over a fixed-entry index ([[ManifestFileIndex]], no
    * stats, no partitions) built from the (path, size, mtime) the
    * header check recorded. A valid file without a recorded entry (a
    * hand-built [[Discovery]]) is stat'ed on the driver. A file that
    * vanishes after validation fails its scan task loudly. */
  def readCsv(spark: SparkSession, disc: Discovery): DataFrame = {
    require(disc.valid.nonEmpty, "no valid files to read")
    val conf = spark.sessionState.newHadoopConf()
    def entry(p: String): (String, Long, Long) = {
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val (size, mtime) = disc.fileStats.getOrElse(p, {
        val st = fs.getFileStatus(path)
        (st.getLen, st.getModificationTime)
      })
      (fs.makeQualified(path).toString, size, mtime)
    }
    val csv = new CSVFileFormat
    val options = Map("header" -> "true", "mode" -> "PERMISSIVE")
    val byHeader: Map[Seq[String], Seq[String]] =
      disc.valid.groupBy(p => disc.headers(p)).map { case (h, ps) => h -> ps.toSeq }
    val parts = byHeader.map { case (header, paths) =>
      val rawSchema = StructType(header.map(c => StructField(c, StringType, nullable = true)))
      val index = new ManifestFileIndex(spark, new Path(paths.head).getParent.toString,
        paths.map(entry))
      val raw = Bridge.ofFileIndex(spark, index, rawSchema, new StructType(), csv, options)
      // try_cast, not cast: under ANSI mode (Spark 4 default) a plain
      // cast THROWS on the first malformed value — one dirty cell
      // would poison the whole multi-file scan, the failure mode a
      // daily 100 TB batch cannot afford. try_cast nulls the VALUE and
      // keeps the row (string→timestamp still accepts ISO-8601 with
      // optional fractional seconds, the generator's format); rows
      // whose KEY fails remain dropped below. Deliberately more
      // row-preserving than the reference, whose per-file try/except
      // (O15) would fail the entire file on one bad value.
      raw.select(CocoaSchema.input.fields.map { f =>
        expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})").as(f.name)
      }.toSeq: _*)
    }
    parts.reduce(_ unionByName _)
      .filter(col(CocoaSchema.mergeKey).isNotNull)
  }

  /** Discover + validate + read in one call; `Discovery` is returned
    * alongside so the caller can archive/quarantine (O15/O16). */
  def ingest(spark: SparkSession, landingDir: String): (Option[DataFrame], Discovery) = {
    val disc = validateHeaders(spark, discoverCsv(spark, landingDir))
    val df = if (disc.valid.nonEmpty) Some(readCsv(spark, disc)) else None
    (df, disc)
  }

  private[pipeline] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
}
