package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** CDC semantics of [[Warehouse.diff]]: every change class surfaces
  * exactly once with the right payload side, unchanged rows are
  * suppressed, and the plan is the one key-partitioned full-outer
  * join — no cartesian anywhere. */
class WarehouseDiffSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def batch(seed: Int) =
    Enrich.enrich(CocoaGen.shipments(spark, 10, seed = seed),
      new Timestamp(1000000L))

  private def id(n: Int) = f"SHIP-$n%010d"

  test("diff classifies insert/update/delete and drops unchanged rows") {
    val root = Files.createTempDirectory("wh_diff").toString
    val v0 = batch(7) // ids 0..9
    // v1: drop id 9 (delete), bump id 0's quality (update), add id 100
    // (insert); ids 1..8 land byte-identical (must NOT surface).
    val insert = Enrich.enrich(
      CocoaGen.shipments(spark, 1, seed = 8, idOffset = 100L),
      new Timestamp(2000000L))
    val v1 = v0.filter(col("shipment_id") =!= id(9))
      .withColumn("quality_score",
        when(col("shipment_id") === id(0), lit(9.99))
          .otherwise(col("quality_score")))
      .unionByName(insert)
    assert(Warehouse.commit(spark, root, v0) === 0L)
    assert(Warehouse.commit(spark, root, v1) === 1L)

    // the rename guard reads each side's footer on the driver:
    // planning the diff submits no Spark job
    val (diff, planJobs) = org.apache.spark.grafttest.JobCount(spark)(
      Warehouse.diff(spark, root, 0L, 1L))
    assert(planJobs === 0, s"diff planning submitted $planJobs jobs")
    val rows = diff.collect().map(r =>
      r.getAs[String]("shipment_id") -> r.getAs[String]("change_type")).toMap
    assert(rows === Map(
      id(0) -> "update", id(9) -> "delete", id(100) -> "insert"))

    // updates/inserts carry the NEW row, deletes the OLD one
    val byId = diff.collect().map(r => r.getAs[String]("shipment_id") -> r).toMap
    assert(byId(id(0)).getAs[Double]("quality_score") === 9.99)
    assert(byId(id(100)).getAs[Timestamp]("processed_at") ===
      new Timestamp(2000000L))
    val oldDel = v0.filter(col("shipment_id") === id(9)).collect().head
    assert(byId(id(9)).getAs[Double]("quality_score") ===
      oldDel.getAs[Double]("quality_score"))
  }

  test("a change in ANY column — audit stamp included — is an update") {
    val v0 = batch(11)
    val v1 = Enrich.enrich(
      CocoaGen.shipments(spark, 10, seed = 11), new Timestamp(3000000L))
    val diff = Warehouse.diffFrames(v0, v1, Seq("shipment_id"))
    val types = diff.select("change_type").distinct().collect().map(_.getString(0))
    assert(types.toSeq === Seq("update"), "only processed_at moved => all updates")
    assert(diff.count() === 10)
  }

  test("the plan is one full-outer join on the key, no cartesian") {
    val root = Files.createTempDirectory("wh_diff_plan").toString
    Warehouse.commit(spark, root, batch(13))
    Warehouse.commit(spark, root, batch(14))
    val diff = Warehouse.diff(spark, root, 0L, 1L)
    val plan = diff.queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), s"expected a full-outer join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
    assert("SortMergeJoin|BroadcastHashJoin".r.findAllIn(plan).size === 1,
      s"exactly one join expected:\n$plan")
  }

  test("persisted change feed: stored rows equal the derived diff; publish idempotent") {
    val root = Files.createTempDirectory("wh_feed").toString
    val v0 = batch(21)
    val v1 = v0.filter(col("shipment_id") =!= id(3))
      .unionByName(Enrich.enrich(
        CocoaGen.shipments(spark, 2, seed = 22, idOffset = 200L),
        new Timestamp(3000000L)))
    Warehouse.commit(spark, root, v0)
    Warehouse.commit(spark, root, v1)

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted

    val p1 = Warehouse.publishChangeFeed(spark, root, 1L)
    val stored = canon(Warehouse.readChangeFeed(spark, root, 1L))
    val derived = canon(Warehouse.diffImages(
      spark.read.schema(CocoaSchema.warehouse)
        .parquet(Warehouse.versionPath(root, 0L)),
      spark.read.schema(CocoaSchema.warehouse)
        .parquet(Warehouse.versionPath(root, 1L)),
      Seq("shipment_id")))
    assert(stored === derived)
    assert(stored.nonEmpty)

    // second publish is a no-op returning the same artifact
    assert(Warehouse.publishChangeFeed(spark, root, 1L) === p1)
    assert(canon(Warehouse.readChangeFeed(spark, root, 1L)) === stored)

    // the feed dir is hidden from snapshot readers: re-reading v1
    // as table data still yields exactly v1's rows
    assert(spark.read.schema(CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(root, 1L)).count() === v1.count())

    // unpublished feed reads fail loudly, never as "no changes"
    val e = intercept[IllegalArgumentException] {
      Warehouse.readChangeFeed(spark, root, 99L)
    }
    assert(e.getMessage.contains("publishChangeFeed"))
  }

  test("vacuum prunes change feeds with their snapshots; retained feeds survive") {
    val root = Files.createTempDirectory("wh_feed_vac").toString
    // four commits, each shifting the audit stamp => three real diffs
    (0 to 3).foreach { i =>
      Warehouse.commit(spark, root,
        Enrich.enrich(CocoaGen.shipments(spark, 10, seed = 31),
          new Timestamp(1000000L * (i + 1))))
    }
    (1L to 3L).foreach(v => Warehouse.publishChangeFeed(spark, root, v))
    (1L to 3L).foreach(v =>
      assert(Warehouse.readChangeFeed(spark, root, v).count() > 0))

    // keepLast=2 retains v2,v3: feeds v2 (transition INTO the window)
    // and v3 must survive; v1's feed goes with its snapshot
    Warehouse.vacuum(spark, root, keepLast = 2)
    assert(Warehouse.readChangeFeed(spark, root, 2L).count() > 0,
      "feed of the lowest retained version must survive vacuum")
    assert(Warehouse.readChangeFeed(spark, root, 3L).count() > 0)
    val gone = intercept[IllegalArgumentException] {
      Warehouse.readChangeFeed(spark, root, 1L)
    }
    assert(gone.getMessage.contains("publishChangeFeed"),
      "a pruned feed must fail loudly, never read as 'no changes'")
    // the feed dir itself is gone — _changes is bounded by retention
    val fs = Ingest.fs(spark, root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Warehouse.changePath(root, 1L))))
  }

  test("vacuum collects ORPHANED feeds and crashed feed staging dirs") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("wh_feed_orph").toString
    (0 to 3).foreach { i =>
      Warehouse.commit(spark, root,
        Enrich.enrich(CocoaGen.shipments(spark, 10, seed = 37),
          new Timestamp(1000000L * (i + 1))))
    }
    (1L to 3L).foreach(v => Warehouse.publishChangeFeed(spark, root, v))
    val fs = Ingest.fs(spark, root)
    // simulate a PRE-FIX vacuum: snapshot v1 deleted, its feed left
    // behind (the leak class the orphan sweep exists for), plus a
    // crashed publisher's dot-prefixed staging dir under _changes,
    // aged past the lock TTL so a live writer can't be holding it
    fs.delete(new Path(Warehouse.versionPath(root, 1L)), true)
    val crashed = new Path(s"$root/_changes/.v9_deadbeef")
    fs.mkdirs(crashed)
    fs.setTimes(new Path(Warehouse.changePath(root, 1L)), 1000L, 1000L)
    fs.setTimes(crashed, 1000L, 1000L)
    assert(fs.exists(new Path(Warehouse.changePath(root, 1L))))

    // keepLast=2 retains v2,v3 (floor = v2): the orphaned v1 feed and
    // the stale staging dir are swept; retained feeds survive
    Warehouse.vacuum(spark, root, keepLast = 2)
    assert(!fs.exists(new Path(Warehouse.changePath(root, 1L))),
      "an already-orphaned feed must be collected by the direct sweep")
    assert(!fs.exists(crashed), "stale feed staging must be collected")
    assert(Warehouse.readChangeFeed(spark, root, 2L).count() > 0)
    assert(Warehouse.readChangeFeed(spark, root, 3L).count() > 0)
  }
}
