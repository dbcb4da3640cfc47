package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.grafttest.JobCount
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Spark-job budget of a batch load. Ingest's file metadata (header
  * check, scan planning) runs on the driver and submits no Spark job
  * at any landing size; a 72-file load onto a seeded warehouse costs
  * 4 jobs in all: the staging write and 3 for the commit. Sizes 10, 72
  * and 300 straddle Spark's 32-path parallel-listing threshold and the
  * 64-file point where the header check used to move onto executors.
  *
  * Every size also checks what the load produced against an
  * expectation computed in plain Scala from the generated files: the
  * quarantine set, by-name binding of reordered, quoted and widened
  * headers, and the committed rows after last-writer-wins. */
class IngestJobBudgetSpec extends AnyFunSuite {
  import IngestJobBudgetSpec.Landed

  lazy val spark = SparkTestSession.spark

  private val canonical = CocoaSchema.input.fieldNames.toSeq
  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** The warehouse row a landed row becomes, as compared below. */
  private def image(l: Landed, processedAtMs: Long): Seq[Any] =
    Seq(l.id, l.tsMs, l.farm, l.region, l.bean, l.quality.toDouble, l.weight,
      if (l.temp.isEmpty) null else l.temp.toDouble, l.weight * 2.5, processedAtMs)

  private def rowImage(r: Row): Seq[Any] =
    Seq(r.getString(0), r.getTimestamp(1).getTime, r.getString(2), r.getString(3),
      r.getString(4), r.get(5), r.get(6), r.get(7), r.get(8), r.getTimestamp(9).getTime)

  /** Writes `n` landing files of 3 rows each with plain java.nio and
    * returns (quarantined file names, rows of the valid files). Every
    * 7th file lacks `region`; others vary the header: reversed column
    * order, an extra column, or a BOM with quoted names. Keys repeat
    * across files and overlap the seed; timestamps are unique, so
    * last-writer-wins has one answer. */
  private def land(dir: JPath, n: Int): (Set[String], Seq[Landed]) = {
    Files.createDirectories(dir)
    val rnd = new scala.util.Random(n)
    val regions = Seq("Ashanti", "Volta", "Western", "Eastern")
    var tick = 0
    val files = (0 until n).map { i =>
      val name = f"land_$i%04d.csv"
      val header =
        if (i % 7 == 3) canonical.filterNot(_ == "region")
        else if (i % 5 == 1) canonical.reverse
        else if (i % 5 == 2) canonical.take(2) ++ Seq("note") ++ canonical.drop(2)
        else canonical
      val rows = (0 until 3).map { _ =>
        tick += 1
        Landed(f"SHIP-${rnd.nextInt(2 * n)}%07d",
          LocalDateTime.of(2025, 1, 1, 0, 0).plusSeconds(tick).format(tsFormat),
          s"FARM-${rnd.nextInt(50)}", regions(rnd.nextInt(regions.size)), "Criollo",
          f"${7.5 + rnd.nextInt(24) / 10.0}%.1f", 500L + rnd.nextInt(1000),
          if (rnd.nextInt(10) == 0) "" else s"${18 + rnd.nextInt(8)}.5")
      }
      val headerLine =
        if (i % 11 == 4) "\uFEFF" + header.map(h => "\"" + h + "\"").mkString(",")
        else header.mkString(",")
      val body = rows.map(r => header.map(r.cell).mkString(","))
      Files.write(dir.resolve(name),
        (headerLine +: body).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      (name, i % 7 == 3, rows)
    }
    (files.filter(_._2).map(_._1).toSet, files.filterNot(_._2).flatMap(_._3))
  }

  private def name(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  for (n <- Seq(10, 72, 300)) test(s"$n landed files: metadata costs no Spark job, the load commits the expected rows") {
    val root = Files.createTempDirectory(s"ingest_budget_$n")
    val dirs = CocoaPipeline.Dirs(root.resolve("landing").toString,
      root.resolve("staging").toString, root.resolve("warehouse").toString,
      root.resolve("archive").toString)
    val (quarantined, landed) = land(root.resolve("landing"), n)

    // seed: keys 0 until n, half of the batch's key space
    val seedAt = new Timestamp(1000000L)
    val seed = (0 until n).map { k =>
      Landed(f"SHIP-$k%07d", "2024-06-01T00:00:00", "FARM-0", "Volta", "Forastero",
        "8.0", 1000L, "20.5")
    }
    Warehouse.commit(spark, dirs.warehouse, spark.createDataFrame(
      spark.sparkContext.parallelize(seed.map { l =>
        val img = image(l, seedAt.getTime)
        Row(l.id, new Timestamp(l.tsMs), l.farm, l.region, l.bean, img(5), l.weight,
          img(7), img(8), seedAt)
      }, 1), CocoaSchema.warehouse))

    // header check + scan planning: zero jobs
    val ((disc, scan), planJobs) = JobCount(spark) {
      val d = Ingest.validateHeaders(spark, Ingest.discoverCsv(spark, dirs.landing))
      (d, Ingest.readCsv(spark, d))
    }
    assert(planJobs === 0, s"validateHeaders + readCsv planning submitted $planJobs jobs")
    assert(disc.quarantined.map(name).toSet === quarantined)
    assert(disc.fileStats.keySet === disc.valid.toSet)
    disc.valid.foreach { p =>
      assert(disc.fileStats(p)._1 === Files.size(root.resolve("landing").resolve(name(p))))
    }
    // by-name binding: every valid row comes back with its own values
    val scanned = scan.collect().map(r => (0 until 8).map(r.get)).map { c =>
      Seq(c(0), c(1).asInstanceOf[Timestamp].getTime) ++ c.drop(2)
    }
    val expectScanned = landed.map(l => image(l, 0L).take(8))
    assert(scanned.toSeq.sortBy(_.mkString("|")) === expectScanned.sortBy(_.mkString("|")))

    // the whole batch
    val at = new Timestamp(2000000L)
    val (res, batchJobs) = JobCount(spark)(CocoaPipeline.runBatch(spark, dirs, at))
    if (n == 72)
      assert(batchJobs === 4, "72-file runBatch: 1 staging write + 3 commit jobs")
    assert(batchJobs <= 4, s"runBatch of $n files submitted $batchJobs jobs")
    assert(res.filesQuarantined.map(name).toSet === quarantined)

    val winners = landed.groupBy(_.id).values.map(_.maxBy(_.tsMs))
    val expected = (seed.filterNot(l => winners.exists(_.id == l.id))
      .map(image(_, seedAt.getTime)) ++ winners.map(image(_, at.getTime)))
      .sortBy(_.head.toString)
    val committed = Warehouse.read(spark, dirs.warehouse).collect().map(rowImage).toSeq
      .sortBy(_.head.toString)
    assert(res.warehouseRows === expected.size)
    assert(committed === expected)
  }
}

object IngestJobBudgetSpec {

  /** One landed row, as written. */
  private final case class Landed(id: String, ts: String, farm: String, region: String,
      bean: String, quality: String, weight: Long, temp: String) {
    def cell(c: String): String = c match {
      case "shipment_id" => id
      case "timestamp" => ts
      case "farm_id" => farm
      case "region" => region
      case "bean_type" => bean
      case "quality_score" => quality
      case "shipment_weight_kg" => weight.toString
      case "temperature_celsius" => temp
      case _ => "extra"
    }
    def tsMs: Long = LocalDateTime.parse(ts).toEpochSecond(ZoneOffset.UTC) * 1000L
  }
}
