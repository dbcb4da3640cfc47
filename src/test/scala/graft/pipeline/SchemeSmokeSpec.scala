package graft.pipeline

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** A Hadoop FileSystem under a NON-`file:` scheme that delegates to
  * local disk — the object-store stand-in. Every byte the pipeline
  * moves must go through the Hadoop FS API resolved from the URI (the
  * s3a:// contract); any leftover `java.nio`/`java.io` path assumption
  * shows up here as a missing-file or unsupported-scheme failure. */
class MockSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mock"
  override def getUri: java.net.URI = java.net.URI.create("mock:///")
}

/** FileContext binding for the same scheme: Warehouse.commit publishes
  * its pointer via FileContext.rename(OVERWRITE), which resolves
  * through the AbstractFileSystem registry (`fs.AbstractFileSystem
  * .<scheme>.impl`) — a SEPARATE lookup from `fs.<scheme>.impl`, just
  * like s3a's `org.apache.hadoop.fs.s3a.S3A` binding. */
class MockAbstractFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new MockSchemeFs, conf, "mock", false)

/** S3A-readiness smoke: one full pipeline batch (landing CSV scan →
  * validate → enrich → stage parquet → merge → versioned warehouse
  * commit → archive) against `mock://` instead of `file://`. Proves
  * the engine holds no local-path assumption outside the Hadoop FS
  * API — the same code lines up against s3a://bucket/... unchanged. */
class SchemeSmokeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("pipeline batch runs end-to-end on a non-file Hadoop scheme") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock.impl", classOf[MockSchemeFs].getName)
    hc.set("fs.AbstractFileSystem.mock.impl", classOf[MockAbstractFs].getName)
    // No FS-instance cache for the scheme: the cache is keyed by
    // scheme+authority only, so it would let a code path that builds a
    // FRESH Configuration (dropping fs.mock.impl, i.e. dropping
    // spark.hadoop.* on a real cluster) piggyback on an instance some
    // correct path created earlier — exactly the bug class this smoke
    // exists to catch. With the cache off, every open must resolve the
    // scheme from the conf it was actually given.
    hc.set("fs.mock.impl.disable.cache", "true")

    val local = java.nio.file.Files.createTempDirectory("graft_scheme_smoke")
    val root = s"mock://$local"
    val dirs = CocoaPipeline.Dirs(
      s"$root/landing", s"$root/staging", s"$root/warehouse", s"$root/archive")

    CocoaGen.writeLandingFiles(spark, dirs.landing, 2, 50, seed = 9)
    val r = CocoaPipeline.runBatch(spark, dirs, new Timestamp(1700000000000L))
    assert(r.version === Some(0L))
    assert(Warehouse.read(spark, dirs.warehouse).count() === 100)

    // second batch: 70 files, above Spark's 32-path parallel-listing
    // threshold, proving the driver-side header read and the
    // fixed-entry CSV index, the only code that opens landing files
    // for metadata, both resolve mock:// through the session conf
    CocoaGen.writeLandingFiles(spark, dirs.landing, 70, 2, seed = 10, idOffset = 80)
    CocoaPipeline.runBatch(spark, dirs, new Timestamp(1700000100000L))
    assert(Warehouse.currentVersion(spark, dirs.warehouse) === Some(1L))
    assert(Warehouse.read(spark, dirs.warehouse).count() === 220,
      "keys 0-99 existing, updates 80-219: 20 overlap -> 220 distinct")

    // landing drained into the archive, still through the mock scheme
    val fs = new org.apache.hadoop.fs.Path(dirs.landing)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(dirs.landing))
      .filter(_.getPath.getName.endsWith(".csv"))
    assert(leftover.isEmpty, s"landing not drained: ${leftover.mkString(",")}")
  }

  test("streaming ingest (checkpoint + file-source log) also runs on the scheme") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock.impl", classOf[MockSchemeFs].getName)
    hc.set("fs.AbstractFileSystem.mock.impl", classOf[MockAbstractFs].getName)
    hc.set("fs.mock.impl.disable.cache", "true")

    val local = java.nio.file.Files.createTempDirectory("graft_scheme_stream")
    val root = s"mock://$local"
    // checkpoint + source log + sink all live on the scheme: the
    // streaming engine's commit log goes through FileContext, the
    // piece plain-FileSystem tests never touch
    CocoaGen.writeLandingFiles(spark, s"$root/landing", 2, 40, seed = 13)
    graft.streaming.CocoaStream.runAvailableNow(spark,
      s"$root/landing", s"$root/warehouse", s"$root/chk",
      processedAt = Some(new Timestamp(1700000000000L)))
    assert(Warehouse.read(spark, s"$root/warehouse").count() === 80)
  }
}
