package graftbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.pipeline.{CocoaPipeline, CocoaSchema, Warehouse}
import graftbench.Dashboard._
import graftbench.LandingGen.{Batch, Plan}

/** What one operation reports back to the runner. */
final case class OpOutcome(wallS: Double, ok: Boolean, detail: String = "")

/** A workload: set up (repeatably), warm up, then operations in a
  * closed loop. `traced` operations open spans on `trace`. */
abstract class Workload(val spark: SparkSession, val trace: Trace) {

  /** Make the inputs in `dir`, once per run and untimed. */
  def prepare(dir: Path, traced: Boolean): Unit
  /** Build the fixture state in `dir` from the prepared inputs; the
    * last call's state is used. Returns the seconds spent in the
    * program's calls. */
  def setup(dir: Path, traced: Boolean): Double
  def warmUp(traced: Boolean): Unit
  def hasNext: Boolean
  def op(traced: Boolean): OpOutcome
  /** Untimed work after the closed loop. */
  def afterLoop(traced: Boolean): Unit = ()
  /** Whole-state check after the loop. */
  def finalCheck(): Boolean
  protected def warehouse: String

  /** Bytes under the warehouse root per byte of its current snapshot. */
  def storedPerLive: Double = {
    val root = warehouse
    val live = Warehouse.currentVersion(spark, root)
      .map(v => dirBytes(Warehouse.dataPath(spark, root, v))).getOrElse(0L)
    dirBytes(root).toDouble / math.max(1L, live)
  }

  /** Check failures met outside the timed operations. */
  val problems = mutable.ArrayBuffer.empty[String]

  /** Bookkeeping for the per-layer figures of traced runs. */
  var filesSeen = 0L
  var filesQuarantined = 0L
  val dedup = mutable.ArrayBuffer.empty[Double]
  val stagedRows = mutable.HashMap.empty[Int, Long]
  val resultRows = mutable.HashMap.empty[Int, Long]

  protected def span[T](traced: Boolean, name: String)(body: => T): T =
    if (traced) trace.span(name)(body) else body

  protected def processedAt(batch: Int): Timestamp =
    new Timestamp((LandingGen.baseEpochSec + 3600L * (batch + 1)) * 1000)

  private def dirBytes(path: String): Long = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  protected def land(batch: Batch, landing: String): Unit = {
    val dir = Paths.get(landing)
    Files.createDirectories(dir)
    batch.files.foreach(f => Files.write(dir.resolve(f.name), f.bytes))
  }

  protected def clearLanding(d: CocoaPipeline.Dirs): Unit =
    Option(new java.io.File(d.landing).listFiles()).foreach(_.foreach(_.delete()))

  protected def dirs(root: Path, warehouse: String = "warehouse"): CocoaPipeline.Dirs =
    CocoaPipeline.Dirs(root.resolve("landing").toString, root.resolve("staging").toString,
      root.resolve(warehouse).toString, root.resolve("archive").toString)

  /** Load one batch through `runBatch`, or through the traced
    * composition, and check what the pipeline reports against the
    * expectation. The outcome's time is the pipeline call's. */
  protected def load(batch: Batch, d: CocoaPipeline.Dirs, exp: Expected,
      traced: Boolean): OpOutcome = {
    land(batch, d.landing)
    val at = processedAt(batch.index)
    val t0 = System.nanoTime()
    val res =
      if (traced) trace.span("load")(TracedLoad.run(spark, d, at, trace))
      else CocoaPipeline.runBatch(spark, d, at)
    val wall = (System.nanoTime() - t0) / 1e9
    val (landed, _) = exp(batch, at.getTime)
    // quarantined files stay in landing, as in the reference; the
    // operator clears them before the next batch lands
    clearLanding(d)
    val gotQ = res.filesQuarantined.map(p => new HPath(p).getName).toSet
    val wrong = Seq(
      (gotQ == batch.quarantinedNames) -> s"quarantined $gotQ != ${batch.quarantinedNames}",
      (res.rowsMerged == landed) -> s"rows staged ${res.rowsMerged} != $landed",
      (res.warehouseRows == exp.count) -> s"warehouse rows ${res.warehouseRows} != ${exp.count}")
      .collect { case (false, why) => why }
    filesSeen += batch.files.size
    filesQuarantined += gotQ.size
    if (traced) {
      stagedRows(trace.currentOp) = res.rowsMerged
      // the rows the batch kept: the upsert stamps each row it writes
      // with the batch's processed_at
      val kept = Warehouse.read(spark, d.warehouse).filter(col("processed_at") === lit(at)).count()
      dedup += kept.toDouble / math.max(1L, res.rowsMerged)
    }
    OpOutcome(wall, wrong.isEmpty, wrong.mkString("; "))
  }

  /** Write the expected rows as a parquet input for [[bulkLoad]]. */
  protected def writeSnapshot(exp: Expected, path: String): Unit = {
    val rows = exp.snapshot.map { w =>
      val s = w.s
      Row(LandingGen.keyId(s.key), new Timestamp(s.ts * 1000), s"FARM-${s.farm}",
        LandingGen.regions(s.region), LandingGen.beanTypes(s.bean),
        s.quality.orNull, s.weight.orNull, s.temp.orNull, w.value.orNull,
        new Timestamp(w.processedAtMs))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism),
      CocoaSchema.warehouse).write.parquet(path)
  }

  /** Bulk-load a prepared snapshot as the warehouse's next version, the
    * way an initial backfill would: one `Warehouse.commit`, no CSV.
    * Returns the call's seconds. */
  protected def bulkLoad(root: String, input: String, traced: Boolean): Double = {
    val t0 = System.nanoTime()
    span(traced, "warehouse.seed")(Warehouse.commit(spark, root,
      spark.read.schema(CocoaSchema.warehouse).parquet(input)))
    (System.nanoTime() - t0) / 1e9
  }

  /** One dashboard read through the program's read path, checked
    * against the same read over the expected rows of its version. */
  protected def read(r: Read, root: String, snapshots: Map[Long, Vector[WRow]],
      current: Expected, memo: mutable.Map[(Read, Long), Answer], traced: Boolean): OpOutcome = {
    val t0 = System.nanoTime()
    val rows = span(traced, s"read.${r.kind}") {
      val df = span(traced, "warehouse.read")(r match {
        case TimeTravel(v) => Warehouse.readVersion(spark, root, v)
        case VersionDiff(v) => Warehouse.diff(spark, root, v - 1, v)
        case _ => Warehouse.read(spark, root)
      })
      span(traced, "query.exec")(query(r, df).collect())
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (traced) resultRows(trace.currentOp) = rows.length.toLong
    val v = r match {
      case TimeTravel(x) => x
      case VersionDiff(x) => x
      case _ => snapshots.keys.max
    }
    def want = expected(r, snapshots(v), current.get,
      r match {
        case VersionDiff(x) => snapshots(x - 1)
        case _ => Vector.empty
      })
    val expect = r match {
      case ShipmentLookup(_) | RegionWindow(_, _, _) => want
      case _ => memo.getOrElseUpdate((r, v), want)
    }
    val got = answer(r, rows)
    val ok = same(got, expect)
    OpOutcome(wall, ok, if (ok) "" else s"${r.kind}: $got != $expect")
  }

  /** One dashboard refresh: a read of each kind, in a seeded order with
    * seeded parameters. In a traced run each read is its own operation. */
  protected def refresh(rnd: SplittableRandom, root: String, snapshots: Map[Long, Vector[WRow]],
      current: Expected, memo: mutable.Map[(Read, Long), Answer], traced: Boolean): OpOutcome = {
    val order = kinds.toArray
    LandingGen.shuffle(rnd, order)
    val keys = snapshots(snapshots.keys.max).map(_.s.key)
    val versions = snapshots.keys.toVector.sorted
    val reads = order.toSeq.map { kind =>
      if (traced) trace.newOp()
      read(draw(rnd, kind, keys, versions), root, snapshots, current, memo, traced)
    }
    OpOutcome(reads.map(_.wallS).sum, reads.forall(_.ok),
      reads.filterNot(_.ok).map(_.detail).mkString("; "))
  }

  protected def fingerprintMatches(root: String, exp: Expected): Boolean = {
    val fp = Expected.fingerprint(Warehouse.read(spark, root))
    val ok = fp == ((exp.count, exp.hash))
    if (!ok) problems += s"warehouse $root: $fp != expected (${exp.count}, ${exp.hash})"
    ok
  }
}

/** `daily_load`: one day's landing goes through `runBatch` onto a
  * warehouse seeded at set-up with a bulk load of earlier days. Each
  * operation starts from a fresh copy of that seeded warehouse, so
  * every day's load meets the same table. After it, untimed, one
  * freshness read looks up a key the day just wrote; a traced run
  * refreshes the whole dashboard instead, so every read layer is
  * measured here too. */
final class DailyLoad(spark: SparkSession, trace: Trace, seed: Long, shape: Plan)
    extends Workload(spark, trace) {

  private var batches = Vector.empty[Batch]
  private var next = 0
  private var base: Path = _
  private var seeded: Expected = _
  private var seededRows = Vector.empty[WRow]
  private var seedInput: String = _
  private var exp: Expected = _
  private var d: CocoaPipeline.Dirs = _
  private val rnd = new SplittableRandom(seed ^ 0x6c6f6164L)
  private val memo = mutable.HashMap.empty[(Read, Long), Answer]

  protected def warehouse: String = d.warehouse

  def prepare(dir: Path, traced: Boolean): Unit = {
    batches = LandingGen.generate(shape.copy(seed = seed), parallelism = 4)
    seeded = new Expected
    seeded(batches(0), processedAt(0).getTime)
    seededRows = seeded.snapshot
    seedInput = dir.resolve("seed.parquet").toString
    writeSnapshot(seeded, seedInput)
    next = 1
  }

  /** The days go on where the last set-up left them, so no day is
    * loaded twice. */
  def setup(dir: Path, traced: Boolean): Double = {
    base = dir
    d = dirs(dir, "seed")
    exp = seeded
    bulkLoad(d.warehouse, seedInput, traced)
  }

  /** Untimed: six days through the pipeline (the first day after
    * start-up is ~2x slower, and after four the timed days still fell
    * by 10-15% over a run). A traced run first
    * checks that the traced composition commits what `runBatch`
    * commits. */
  def warmUp(traced: Boolean): Unit = {
    if (traced) checkTracedEqualsRunBatch(batches(next))
    for (_ <- 0 until 6) {
      val o = op(traced = false)
      if (!o.ok) problems += s"warm-up day: ${o.detail}"
    }
  }

  def hasNext: Boolean = next < batches.size

  def op(traced: Boolean): OpOutcome = {
    val b = batches(next)
    if (traced) trace.newOp()
    val fresh = freshCopy(s"wh$next")
    next += 1
    exp = seeded.copy()
    val o = load(b, fresh, exp, traced)
    // keep the seed; drop the previous day's copy
    if (d.warehouse != base.resolve("seed").toString) Workloads.deleteTree(Paths.get(d.warehouse))
    d = fresh
    val v = Warehouse.currentVersion(spark, d.warehouse).get
    val look =
      if (traced) {
        memo.clear()
        refresh(rnd, d.warehouse, Map(v - 1 -> seededRows, v -> exp.snapshot), exp, memo, traced)
      } else {
        val rows = b.validRows.toVector
        read(ShipmentLookup(rows(rnd.nextInt(rows.size)).key), d.warehouse,
          Map(v -> Vector.empty), exp, memo, traced)
      }
    if (look.ok) o else o.copy(ok = false, detail = s"${o.detail} ${look.detail}".trim)
  }

  /** A copy of the seeded warehouse under a new path. */
  private def freshCopy(name: String): CocoaPipeline.Dirs = {
    val to = dirs(base, name)
    Workloads.copyTree(base.resolve("seed"), Paths.get(to.warehouse))
    to
  }

  /** The traced composition and `runBatch`, applied to the same batch
    * on two copies of the seeded warehouse, must commit the same rows
    * with the same number of Spark jobs. */
  private def checkTracedEqualsRunBatch(b: Batch): Unit = {
    val at = processedAt(b.index)
    val found = Seq("check.run_batch", "check.traced").map { name =>
      val c = freshCopy(name)
      land(b, c.landing)
      trace.newOp()
      trace.span(name) {
        if (name == "check.traced") TracedLoad.run(spark, c, at, trace)
        else CocoaPipeline.runBatch(spark, c, at)
      }
      clearLanding(c)
      org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
      val work = trace.workBySpan
      val spans = trace.spans
      val root = spans.filter(_.name == name).last
      val jobs = spans.filter(s => s.id == root.id || s.parent.contains(root.id))
        .map(s => work.get(s.id).map(_.jobs).getOrElse(0L)).sum
      val fp = Expected.fingerprint(Warehouse.read(spark, c.warehouse))
      Workloads.deleteTree(Paths.get(c.warehouse))
      (jobs, fp)
    }
    System.err.println("[graftbench] (jobs, fingerprint) of runBatch vs the traced " +
      s"composition: ${found(0)} vs ${found(1)}")
    if (found(0) != found(1))
      problems += s"traced composition diverges from runBatch: ${found(1)} vs ${found(0)}"
  }

  def finalCheck(): Boolean = fingerprintMatches(d.warehouse, exp)
}

/** `dashboard_reads`: one client refreshes a dashboard again and again.
  * One operation is one refresh: a read of each kind, in a seeded order
  * with seeded parameters, against a two-version warehouse built at
  * set-up: a bulk-loaded seed, then one hourly batch on top, loaded
  * through the pipeline. After the loop, a traced run also runs the
  * [[OperatorMix]] rows: one untimed pass, then one traced pass. */
final class DashboardReads(spark: SparkSession, trace: Trace, seed: Long, shape: Plan)
    extends Workload(spark, trace) {

  private var batches = Vector.empty[Batch]
  private var seeded: Expected = _
  private var seededRows = Vector.empty[WRow]
  private var seedInput: String = _
  private var operatorInput: String = _
  private var root: String = _
  private var snapshots = Map.empty[Long, Vector[WRow]]
  private var current: Expected = _
  private val rnd = new SplittableRandom(seed ^ 0x72656164L)
  private val memo = mutable.HashMap.empty[(Read, Long), Answer]

  protected def warehouse: String = root

  def prepare(dir: Path, traced: Boolean): Unit = {
    batches = LandingGen.generate(shape.copy(seed = seed), parallelism = 4)
    seeded = new Expected
    seeded(batches(0), processedAt(0).getTime)
    seededRows = seeded.snapshot
    seedInput = dir.resolve("seed.parquet").toString
    writeSnapshot(seeded, seedInput)
    if (traced) {
      operatorInput = dir.resolve("operators").toString
      OperatorMix.writeFixture(spark, operatorInput)
    }
  }

  def setup(dir: Path, traced: Boolean): Double = {
    val d = dirs(dir)
    val exp = seeded.copy()
    if (traced) trace.newOp()
    var programS = bulkLoad(d.warehouse, seedInput, traced)
    val snaps = mutable.LinkedHashMap(Warehouse.currentVersion(spark, d.warehouse).get -> seededRows)
    batches.tail.foreach { b =>
      if (traced) trace.newOp()
      val o = load(b, d, exp, traced)
      programS += o.wallS
      if (!o.ok) problems += s"set-up batch ${b.index}: ${o.detail}"
      snaps(Warehouse.currentVersion(spark, d.warehouse).get) = exp.snapshot
    }
    root = d.warehouse
    snapshots = snaps.toMap
    current = exp
    memo.clear()
    programS
  }

  /** Untimed: five refreshes (the first after start-up is ~2x slower,
    * and the next ones still speed up). */
  def warmUp(traced: Boolean): Unit =
    for (_ <- 0 until 5) {
      val o = op(traced = false)
      if (!o.ok) problems += s"warm-up refresh: ${o.detail}"
    }

  def hasNext: Boolean = true

  def op(traced: Boolean): OpOutcome = refresh(rnd, root, snapshots, current, memo, traced)

  /** A traced run's operator rows: one untimed pass, then one traced
    * pass (the first pass in a JVM runs ~25% slower). Each row is one
    * operation; a wrong result or an exception is a problem. */
  override def afterLoop(traced: Boolean): Unit = if (traced) {
    val order = OperatorMix.rows.toArray
    LandingGen.shuffle(rnd, order)
    for (pass <- 0 until 2; row <- order) {
      if (pass == 1) trace.newOp()
      val t0 = System.nanoTime()
      val got =
        try Right(OperatorMix.fingerprint(
          span(pass == 1, s"operator.$row")(OperatorMix.run(spark, row, operatorInput))))
        catch { case e: Exception => Left(e.toString) }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[graftbench] operator pass $pass $row $dt%.2fs $got")
      if (got != Right(OperatorMix.pinned(row)))
        problems += s"operator $row: $got != pinned ${OperatorMix.pinned(row)}"
    }
  }

  def finalCheck(): Boolean = fingerprintMatches(root, current)
}

object Workloads {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}
