package graft.sources.v2

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.execution.datasources.{PartitioningAwareFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Scan file index backed ENTIRELY by a manifest version's persisted
  * entries (absolute path, size, mtime): planning a read performs
  * ZERO filesystem listing and ZERO per-file stat calls — the
  * manifest IS the listing, the property that makes Delta/Iceberg
  * metadata scale to million-file tables (a directory listing is
  * O(files) round-trips on an object store; this is one small file
  * already read at table resolution).
  *
  * HIVE-PARTITIONED manifest snapshots compose: partition column
  * names ride the version's `_MANIFEST_PARTS` sidecar, each file's
  * partition VALUES are re-derived from its path's `k=v` fragments
  * (unescaped, cast to the declared types in the session zone — the
  * builtin PartitioningUtils parse, minus its listing), and the base
  * class's partition pruning then drops whole partitions at planning
  * exactly as the builtin index would. `sizeInBytes` feeds the
  * optimizer's stats from the same persisted numbers.
  *
  * Any fixed entry list serves: ingest plans its landing-CSV scan over
  * the (path, size, mtime) its header check recorded, with no stats
  * and no partitions. */
private[graft] class ManifestFileIndex(spark: SparkSession, root: String,
    entries: Seq[(String, Long, Long)],
    stats: Map[String, Map[String, (Option[Any], Option[Any])]] = Map.empty,
    partSchema: StructType = new StructType())
    extends PartitioningAwareFileIndex(
      GraftTables.classic(spark), Map.empty[String, String], None) {

  private val statuses: Seq[FileStatus] = entries.map { case (abs, size, mtime) =>
    new FileStatus(size, false, 1, 128L * 1024 * 1024, mtime, new Path(abs))
  }

  /** DATA SKIPPING from the manifest's persisted per-file min/max
    * (the Delta stats-in-the-log shape): pushed conjuncts become the
    * zone-map constraints and files whose ranges cannot match are
    * dropped at PLANNING — no footer opened, no task launched. Files
    * or columns without stats are never dropped. Partition pruning
    * happens FIRST, in the base class's listFiles, against the spec
    * derived from the manifest paths. */
  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] = {
    import org.apache.spark.sql.execution.datasources.PartitionDirectory
    val base =
      if (partSchema.isEmpty)
        Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
      else super.listFiles(partitionFilters, dataFilters)
    val constraints = dataFilters.flatMap(ZoneMapFileIndex.constraint)
    val out =
      if (constraints.isEmpty || stats.isEmpty) base
      else base.map { pd =>
        PartitionDirectory(pd.values, pd.files.filter { f =>
          stats.get(f.getPath.toString) match {
            case None => true // no stats for this file: never drop
            case Some(ranges) => constraints.forall(_.canMatch(ranges))
          }
        })
      }
    val kept = out.map(_.files.length.toLong).sum
    val total = statuses.size.toLong
    if (kept < total) {
      ZoneMapFileIndex.filesPruned.add(total - kept)
      ZoneMapFileIndex.filesKept.add(kept)
      logInfo(s"manifest planning pruned ${total - kept}/$total files of $root")
    }
    out
  }

  /** Partition spec from the persisted paths alone: one
    * [[PartitionPath]] per distinct parent DIRECTORY (the same
    * partition values recur across version dirs — `v0/region=EU` and
    * `v3/region=EU` are two paths of one logical partition, exactly
    * how the base class wants them). */
  // built once: the base class consults the spec on every listFiles
  // and partitionSchema access, and the per-dir fragment parse + cast
  // is O(dirs) work that must not repeat per planning call
  private lazy val builtSpec: PartitionSpec = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val paths = statuses.map(_.getPath.getParent).distinct.map { dir =>
      PartitionPath(partitionRow(dir, zone), dir)
    }
    PartitionSpec(partSchema, paths)
  }

  override def partitionSpec(): PartitionSpec =
    if (partSchema.isEmpty) PartitionSpec.emptySpec else builtSpec

  /** `dir`'s partition values in declared order, parsed from its
    * `k=v` path fragments — [[GraftDvScan]]'s parser shape: hive
    * unescape, `__HIVE_DEFAULT_PARTITION__` → null, cast in the
    * SESSION zone (a hardcoded UTC would shift timestamp-typed
    * values relative to the builtin scan of the same layout). */
  private def partitionRow(dir: Path, zone: String): InternalRow = {
    val bySpec = dir.toString.split('/').filter(_.contains('=')).map { seg =>
      val i = seg.indexOf('=')
      ExternalCatalogUtils.unescapePathName(seg.take(i)) ->
        ExternalCatalogUtils.unescapePathName(seg.drop(i + 1))
    }.toMap
    new GenericInternalRow(partSchema.fields.map { f =>
      val raw = bySpec.getOrElse(f.name, throw new IllegalStateException(
        s"graft: manifest file dir $dir carries no '${f.name}=' fragment —" +
          " partition layout and _MANIFEST_PARTS disagree"))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType,
        Option(zone)).eval()
    })
  }

  override protected lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] = {
    val m = mutable.LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach(s => m += (s.getPath -> s))
    m
  }

  override protected lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)
      .map { case (dir, fls) => dir -> fls.toArray }

  // the base implementation resolves allFiles() by looking up the
  // ROOT paths' children — manifest files live across VERSION subdirs,
  // so answer directly from the persisted entries
  override def allFiles(): Seq[FileStatus] = statuses

  override def rootPaths: Seq[Path] =
    statuses.map(_.getPath.getParent).distinct

  override def refresh(): Unit = ()
}
