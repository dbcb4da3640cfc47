package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Metadata-only column rename (column mapping): zero bytes move, a
  * second rename COMPOSES the map instead of stacking, validation
  * fails before anything publishes, era semantics hold under time
  * travel, and the DV refusal mirrors cloneShallow's. */
class RenameSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(): String = Files.createTempDirectory("wh_rename").toString
  private def batch(seed: Int, n: Int = 30) =
    Enrich.enrich(CocoaGen.shipments(spark, n, seed = seed), new Timestamp(1000000L))
  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("compaction MATERIALIZES the rename: compacted snapshot carries logical names") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(5))
    Warehouse.renameColumns(spark, root, Map("region" -> "zone"))
    val v = Warehouse.compact(spark, root).get
    // a raw footer read of the compacted version must show the
    // LOGICAL name — a raw-read compaction would silently revert it
    val compacted = spark.read.parquet(Warehouse.versionPath(root, v))
    assert(compacted.columns.contains("zone") &&
      !compacted.columns.contains("region"))
    assert(compacted.count() === 30)
    // no residual map on the compacted version
    assert(!hfs(root).exists(
      new Path(Warehouse.versionPath(root, v), "_MAPPING")))
  }

  test("cloning a renamed table carries the map; applyDv on a renamed+DV version materializes it") {
    import org.apache.spark.sql.functions.{col, lit}
    // clone: the map rides the pointer
    val src = freshRoot()
    Warehouse.commit(spark, src, batch(6))
    Warehouse.renameColumns(spark, src, Map("region" -> "zone"))
    val dst = freshRoot() + "_clone"
    Warehouse.cloneShallow(spark, src, dst)
    val cloned = Warehouse.readVersionLive(spark, dst, 0L)
    assert(cloned.columns.contains("zone") && !cloned.columns.contains("region"),
      "a clone of a renamed table must keep the logical names")
    assert(cloned.count() === 30)
    // applyDv on a renamed+DV version: the fold materializes the
    // logical names instead of silently reverting them
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(7))
    Warehouse.renameColumns(spark, root, Map("region" -> "zone"))
    Warehouse.deleteWhere(spark, root, col("quality_score") < lit(8.0))
    val liveN = Warehouse.readVersionLive(spark, root, 1L).count()
    assert(liveN < 30)
    val v = Warehouse.applyDv(spark, root).get
    val folded = spark.read.parquet(Warehouse.versionPath(root, v))
    assert(folded.columns.contains("zone") && !folded.columns.contains("region"))
    assert(folded.count() === liveN)
  }

  test("rename moves no data, maps names at read, leaves old versions era-correct") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(1))
    val before = rows(Warehouse.read(spark, root))
    val v = Warehouse.renameColumns(spark, root,
      Map("shipment_value_usd" -> "trade_value_usd"))
    assert(v === 1L)
    // the mapped version dir holds only pointer + map + _SUCCESS
    val names = hfs(root).listStatus(new Path(Warehouse.versionPath(root, 1L)))
      .map(_.getPath.getName).sorted.toSeq
    assert(names === Seq("_CLONE", "_MAPPING", "_SUCCESS"),
      s"unexpected mapped-version contents: $names")
    val mapped = Warehouse.readMapped(spark, root)
    assert(mapped.columns.contains("trade_value_usd") &&
      !mapped.columns.contains("shipment_value_usd"))
    // same bytes: values identical up to the column name
    assert(rows(mapped.withColumnRenamed("trade_value_usd", "shipment_value_usd"))
      === before)
    // era semantics: time travel to v0 shows the OLD name
    val v0 = Warehouse.readMapped(spark, root, version = Some(0L))
    assert(v0.columns.contains("shipment_value_usd"))
  }

  test("a second rename composes the map — one hop, never a chain") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(2))
    Warehouse.renameColumns(spark, root, Map("shipment_value_usd" -> "v1_name"))
    // second rename keys off the CURRENT logical name
    Warehouse.renameColumns(spark, root, Map("v1_name" -> "v2_name"))
    val mapped = Warehouse.readMapped(spark, root)
    assert(mapped.columns.contains("v2_name") &&
      !mapped.columns.contains("v1_name") &&
      !mapped.columns.contains("shipment_value_usd"))
    // the data dir pointer flattens to the ORIGINAL v0 data dir
    assert(Warehouse.dataPath(spark, root, 2L) ===
      Warehouse.versionPath(root, 0L))
  }

  test("validation fails loudly before publishing") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(3))
    val e1 = intercept[IllegalArgumentException] {
      Warehouse.renameColumns(spark, root, Map("no_such_col" -> "x"))
    }
    assert(e1.getMessage.contains("no_such_col"))
    val e2 = intercept[IllegalArgumentException] {
      Warehouse.renameColumns(spark, root, Map("shipment_value_usd" -> "region"))
    }
    assert(e2.getMessage.contains("collides"))
    // nothing published: still one version
    assert(Warehouse.currentVersion(spark, root) === Some(0L))
  }

  test("a DV-bearing current version refuses to rename (applyDv first)") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(4))
    Warehouse.deleteWhere(spark, root, col("quality_score") < 100.0)
    val e = intercept[IllegalStateException] {
      Warehouse.renameColumns(spark, root, Map("shipment_value_usd" -> "x"))
    }
    assert(e.getMessage.contains("deletion vectors"))
  }

  test("diff across a rename boundary translates the era chain — no null-fill") {
    import org.apache.spark.sql.types.StructType
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(11))                        // v0: physical 'region'
    Warehouse.renameColumns(spark, root, Map("region" -> "zone"))   // v1: map only
    val renamed = StructType(CocoaSchema.warehouse.fields.map(f =>
      if (f.name == "region") f.copy(name = "zone") else f))
    // v2: a data commit under the new names, ONE row's score bumped
    val live = Warehouse.readVersionLive(spark, root, 1L)
    val someId = live.select("shipment_id").orderBy("shipment_id")
      .head().getString(0)
    Warehouse.commit(spark, root, live.withColumn("quality_score",
      when(col("shipment_id") === lit(someId), lit(9.95))
        .otherwise(col("quality_score"))))
    // pre-fix, v0 read under the caller's 'zone' schema null-filled
    // the column, turning EVERY unchanged row into a spurious update
    val d = Warehouse.diff(spark, root, 0L, 2L, schema = renamed)
    assert(d.count() === 1, "only the bumped row changed")
    assert(d.filter(col("zone").isNull).count() === 0,
      "the renamed column must carry real values on both sides")
  }

  test("diff under a schema the files cannot translate fails loudly, flat or partitioned") {
    import org.apache.spark.sql.types.StructType
    // no rename was ever committed: 'zone' is a foreign-era name, and
    // the files carry the unclaimed 'region' (a partition column in
    // the partitioned layout, where the name lives on the path)
    val foreign = StructType(CocoaSchema.warehouse.fields.map(f =>
      if (f.name == "region") f.copy(name = "zone") else f))
    for (partitionBy <- Seq(Nil, Seq("region"))) {
      val root = freshRoot()
      Warehouse.commit(spark, root, batch(12), partitionBy = partitionBy)
      Warehouse.commit(spark, root, batch(13), partitionBy = partitionBy)
      val e = intercept[IllegalStateException](
        Warehouse.diff(spark, root, 0L, 1L, schema = foreign))
      assert(e.getMessage.contains("has no column(s) zone"), s"partitionBy=$partitionBy")
    }
  }

  test("a later commit writes logical names physically; its version carries no map") {
    val root = freshRoot()
    Warehouse.commit(spark, root, batch(5))
    Warehouse.renameColumns(spark, root, Map("shipment_value_usd" -> "trade_value_usd"))
    val renamedEra = Warehouse.readMapped(spark, root)
    // downstream writer commits under the new logical schema
    Warehouse.commit(spark, root, renamedEra)
    val v2 = Warehouse.readMapped(spark, root,
      schema = org.apache.spark.sql.types.StructType(
        CocoaSchema.warehouse.fields.map(f =>
          if (f.name == "shipment_value_usd") f.copy(name = "trade_value_usd") else f)))
    assert(v2.columns.contains("trade_value_usd"))
    assert(hfs(root).exists(new Path(Warehouse.versionPath(root, 2L), "_SUCCESS")))
    assert(!hfs(root).exists(new Path(Warehouse.versionPath(root, 2L), "_MAPPING")))
    assert(rows(v2) === rows(renamedEra))
  }
}
