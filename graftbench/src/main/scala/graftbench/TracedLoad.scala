package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.pipeline.{Archive, CocoaPipeline, Enrich, Ingest, Merge, Warehouse}

/** `CocoaPipeline.runBatch` recomposed from the pipeline's public
  * calls, one span per layer. Spark is lazy, so each span wraps the
  * call that executes its work: `ingest.scan_stage` covers the CSV
  * read, enrichment and staging write (one fused job), and
  * `warehouse.commit` covers the merge plan and the snapshot write.
  * [[Checks]] asserts this composition commits the same warehouse,
  * with the same job count, as `runBatch` on the same input. */
object TracedLoad {

  def run(spark: SparkSession, dirs: CocoaPipeline.Dirs, processedAt: Timestamp,
      trace: Trace): CocoaPipeline.BatchResult = {
    val files = trace.span("ingest.discover")(Ingest.discoverCsv(spark, dirs.landing))
    val disc = trace.span("ingest.validate")(Ingest.validateHeaders(spark, files))
    if (disc.valid.isEmpty)
      return CocoaPipeline.BatchResult(Warehouse.currentVersion(spark, dirs.warehouse),
        Seq.empty, disc.quarantined, 0L, -1L)
    val stagedObs = new Observation()
    val mergedObs = new Observation()
    val schema = trace.span("ingest.scan_stage") {
      val enriched = Enrich.enrich(Ingest.readCsv(spark, disc), processedAt)
        .observe(stagedObs, count(lit(1)).as("rows"))
      enriched.write.mode("overwrite").parquet(dirs.staging)
      enriched.schema
    }
    val staged = spark.read.schema(schema).parquet(dirs.staging)
    val target = trace.span("warehouse.read")(Warehouse.read(spark, dirs.warehouse))
    val version = trace.span("warehouse.commit") {
      val merged = Merge.upsertShipments(target, staged)
        .observe(mergedObs, count(lit(1)).as("rows"))
      Warehouse.commit(spark, dirs.warehouse, merged)
    }
    trace.span("archive") {
      Archive.archiveFiles(spark, disc.valid, dirs.archive)
      Archive.deleteDir(spark, dirs.staging)
    }
    CocoaPipeline.BatchResult(Some(version), disc.valid, disc.quarantined,
      rowsMerged = stagedObs.get("rows").asInstanceOf[Long],
      warehouseRows = mergedObs.get("rows").asInstanceOf[Long])
  }
}
