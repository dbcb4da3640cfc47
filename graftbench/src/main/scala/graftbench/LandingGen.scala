package graftbench

import java.nio.charset.StandardCharsets
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded landing-file generator with the reference's distributions
  * (`scripts/generate_data.py`): uuid ids, timestamps uniform over the
  * two years before a base instant, FARM-100..200, 16 Ghana regions,
  * 3 bean types, quality U(7.5, 9.8) at 2 dp, weight randint(500,
  * 5000), temperature U(18, 25) at 1 dp with ~10% blanks, and 1k-10k
  * rows per file.
  *
  * It is the benchmark's own code, not the program's `CocoaGen`, so a
  * change to the program can never change the inputs it is measured
  * on. Every byte is a pure function of (seed, batch shape): file
  * contents come from per-file random streams, so files can be built
  * in parallel and in any order with the same result.
  *
  * Injected irregularities, each recorded so the checks can expect
  * them:
  *  - 2% of files lack one required column (the pipeline must
  *    quarantine exactly those);
  *  - 10% of files carry a reordered header plus an extra column
  *    (by-name header groups);
  *  - ~0.2% of rows hold a dirty numeric cell (read as null);
  *  - ~1% of rows repeat a key of an earlier row of the same file with
  *    a later timestamp (within-batch last-writer-wins);
  *  - a share of each later batch's rows updates keys of batch 0 (the
  *    seed), drawn without repetition.
  *
  * File-level shares are exact, spread evenly over the run's files from
  * a seeded offset, so every batch of a shape costs about the same.
  */
object LandingGen {

  val columns: Vector[String] = Vector("shipment_id", "timestamp", "farm_id", "region",
    "bean_type", "quality_score", "shipment_weight_kg", "temperature_celsius")

  val regions: Vector[String] = Vector(
    "Ashanti", "Brong-Ahafo", "Central", "Eastern", "Greater Accra",
    "Northern", "Upper East", "Upper West", "Volta", "Western",
    "Western North", "Ahafo", "Bono East", "Oti", "Savannah", "North East")

  val beanTypes: Vector[String] = Vector("Forastero", "Criollo", "Trinitario")

  /** 2025-01-01T00:00:00Z: generated timestamps fall in the two years
    * before it; batch processing instants follow it. */
  val baseEpochSec: Long = 1735689600L
  private val twoYearsSec = 2L * 365 * 24 * 3600

  val minRows = 1000
  val maxRows = 10000
  private val quarantineShare = 0.02
  private val reorderedShare = 0.10
  private val dirtyCellShare = 0.002
  private val dupRowShare = 0.01
  private val dirtyValues = Vector("n/a", "unknown", "-", "12kg")

  /** One landed row as the checks see it; `None` is a null cell. */
  final case class Shipment(key: Long, ts: Long, farm: Int, region: Int, bean: Int,
      quality: Option[Double], weight: Option[Long], temp: Option[Double])

  /** One file: its name, its bytes, the rows it carries, and whether
    * it lacks a required column (and so must be quarantined). */
  final case class LandingFile(name: String, bytes: Array[Byte], rows: Vector[Shipment],
      quarantined: Boolean)

  final case class Batch(index: Int, files: Vector[LandingFile]) {
    def validRows: Iterator[Shipment] = files.iterator.filterNot(_.quarantined).flatMap(_.rows)
    def quarantinedNames: Set[String] = files.filter(_.quarantined).map(_.name).toSet
  }

  /** The shape of a run: `batches` batches of `filesPerBatch` files
    * (the first one `firstBatchFiles`), where `overlap` is the share of
    * a later batch's rows that update keys of batch 0, and `rowScale`
    * scales the 1k-10k rows-per-file law. */
  final case class Plan(seed: Long, batches: Int, filesPerBatch: Int, overlap: Double,
      firstBatchFiles: Int = -1, rowScale: Double = 1.0) {
    def files(batch: Int): Int = if (batch == 0 && firstBatchFiles > 0) firstBatchFiles else filesPerBatch
  }

  /** A stable uuid-shaped id for key number `k` (a bijection of k
    * through two SplitMix64 finalisers, so ids look random). */
  def keyId(k: Long): String = {
    val hi = mix(k ^ 0x5DEECE66DL)
    val lo = mix(hi ^ k)
    val s = f"$hi%016x$lo%016x"
    s"${s.substring(0, 8)}-${s.substring(8, 12)}-4${s.substring(13, 16)}-" +
      s"${s.substring(16, 20)}-${s.substring(20, 32)}"
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Row counts of one batch: a stratified draw from U(minRows,
    * maxRows), shuffled — each file size follows the reference's
    * uniform law while the batch total barely varies between seeds,
    * which keeps per-batch timings comparable across seeds. */
  private def fileSizes(rnd: SplittableRandom, n: Int, scale: Double): Vector[Int] = {
    val span = (maxRows - minRows + 1).toDouble / n
    val sizes = Array.tabulate(n)(i =>
      math.max(1, ((minRows + ((i + rnd.nextDouble()) * span).toInt) * scale).toInt))
    shuffle(rnd, sizes)
    sizes.toVector
  }

  /** Fisher-Yates, in place. */
  def shuffle[T](rnd: SplittableRandom, a: Array[T]): Unit =
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }

  /** Generate every batch of `plan`; `parallelism` threads build files. */
  def generate(plan: Plan, parallelism: Int = 1): Vector[Batch] = {
    val master = new SplittableRandom(plan.seed)
    // Plan every file first, serially: sizes, key ranges, reuse draws
    // and irregularities. Content then depends only on the file's own
    // stream, so building files in parallel cannot change a byte.
    var keysUsed = 0L
    var seedKeys = 0L
    var fileNo = 0
    val qOffset = master.nextDouble()
    val rOffset = master.nextDouble()
    // exactly `share` of all files, evenly spaced: file i is picked when
    // i * share + offset crosses an integer
    def picked(i: Int, share: Double, offset: Double) =
      math.floor((i + 1) * share + offset) > math.floor(i * share + offset)
    val specs = (0 until plan.batches).map { b =>
      val nFiles = plan.files(b)
      val sizes = fileSizes(master, nFiles, plan.rowScale)
      val total = sizes.sum
      val reuse = if (b == 0) 0 else math.min((total * plan.overlap).toInt, seedKeys.toInt)
      val reused = distinctDraw(master, reuse, seedKeys)
      val quarantined = (0 until nFiles).filter(f => picked(fileNo + f, quarantineShare, qOffset)).toSet
      val reordered = (0 until nFiles).filter(f => picked(fileNo + f, reorderedShare, rOffset)).toSet
      fileNo += nFiles
      var reuseAt = 0
      val files = sizes.zipWithIndex.map { case (n, f) =>
        val nReuse = math.min(n, (reused.length - reuseAt) * n / math.max(1, total - sizes.take(f).sum))
        val spec = FileSpec(b, f, n, keysUsed, reused.slice(reuseAt, reuseAt + nReuse),
          quarantined(f), reordered(f), master.split())
        reuseAt += nReuse
        keysUsed += n - nReuse
        spec
      }
      if (b == 0) seedKeys = keysUsed
      files
    }
    val flat = specs.flatten.toVector
    val built = Pool.map(flat, parallelism)(build)
    val byBatch = built.groupBy(_._1)
    (0 until plan.batches).toVector.map(b => Batch(b, byBatch(b).map(_._2).sortBy(_.name)))
  }

  private final case class FileSpec(batch: Int, file: Int, rows: Int, firstNewKey: Long,
      reusedKeys: Array[Long], quarantined: Boolean, reordered: Boolean, rnd: SplittableRandom)

  /** `n` distinct draws from [0, bound) (Floyd's algorithm), in draw order. */
  private def distinctDraw(rnd: SplittableRandom, n: Int, bound: Long): Array[Long] = {
    val seen = new mutable.HashSet[Long]()
    val out = new Array[Long](n)
    var i = 0
    var j = bound - n
    while (i < n) {
      val t = rnd.nextLong(j + 1)
      val pick = if (seen.add(t)) t else { seen.add(j); j }
      out(i) = pick
      i += 1
      j += 1
    }
    out
  }

  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  private def build(s: FileSpec): (Int, LandingFile) = {
    val rnd = s.rnd
    val rows = new Array[Shipment](s.rows)
    // a row is duplicated at most once, and a duplicate never again
    val noSource = new Array[Boolean](s.rows)
    val reusePos = {
      val pos = Array.tabulate(s.rows)(identity)
      shuffle(rnd, pos)
      pos.take(s.reusedKeys.length).sorted
    }
    var newKey = s.firstNewKey
    var rp = 0
    for (i <- 0 until s.rows) {
      val fresh = randomRow(rnd)
      val dupOf = if (i > 0 && rnd.nextDouble() < dupRowShare) rnd.nextInt(i) else -1
      rows(i) =
        if (rp < reusePos.length && reusePos(rp) == i) {
          rp += 1
          fresh.copy(key = s.reusedKeys(rp - 1))
        } else if (dupOf >= 0 && !noSource(dupOf)) {
          // same key as an earlier row with a strictly later timestamp,
          // so the within-batch winner is unambiguous
          noSource(dupOf) = true
          noSource(i) = true
          fresh.copy(key = rows(dupOf).key, ts = rows(dupOf).ts + 1 + rnd.nextInt(86400))
        } else {
          newKey += 1
          fresh.copy(key = newKey - 1)
        }
    }
    val header: Vector[String] = {
      val base =
        if (s.quarantined) columns.patch(1 + rnd.nextInt(columns.size - 1), Nil, 1)
        else columns
      if (s.reordered) {
        val a = base.toArray
        shuffle(rnd, a)
        a.toVector :+ "batch_note"
      } else base
    }
    val cellOf = header.map(columns.indexOf(_)).toArray
    val sb = new java.lang.StringBuilder(s.rows * 110)
    sb.append(header.mkString(",")).append('\n')
    val landed = rows.toVector.map { r =>
      // one dirty numeric cell in ~0.2% of rows; ingest reads it as null
      val dirtyCol = if (rnd.nextDouble() < dirtyCellShare) 5 + rnd.nextInt(3) else -1
      var c = 0
      while (c < cellOf.length) {
        if (c > 0) sb.append(',')
        val idx = cellOf(c)
        if (idx == dirtyCol) sb.append(dirtyValues(rnd.nextInt(dirtyValues.size)))
        else idx match {
          case 0 => sb.append(keyId(r.key))
          case 1 => sb.append(tsFormat.format(LocalDateTime.ofEpochSecond(r.ts, 0, ZoneOffset.UTC)))
          case 2 => sb.append("FARM-").append(r.farm)
          case 3 => sb.append(regions(r.region))
          case 4 => sb.append(beanTypes(r.bean))
          case 5 => sb.append(r.quality.get)
          case 6 => sb.append(r.weight.get)
          case 7 => r.temp.foreach(sb.append)
          case _ => sb.append("b").append(s.batch)
        }
        c += 1
      }
      sb.append('\n')
      dirtyCol match {
        case 5 => r.copy(quality = None)
        case 6 => r.copy(weight = None)
        case 7 => r.copy(temp = None)
        case _ => r
      }
    }
    val name = f"cocoa_b${s.batch}%03d_f${s.file}%03d.csv"
    (s.batch, LandingFile(name, sb.toString.getBytes(StandardCharsets.UTF_8), landed, s.quarantined))
  }

  private def randomRow(rnd: SplittableRandom): Shipment =
    Shipment(
      key = 0L,
      ts = baseEpochSec - rnd.nextLong(twoYearsSec),
      farm = 100 + rnd.nextInt(101),
      region = rnd.nextInt(regions.size),
      bean = rnd.nextInt(beanTypes.size),
      quality = Some(math.round((7.5 + rnd.nextDouble() * 2.3) * 100) / 100.0),
      weight = Some(500L + rnd.nextInt(4501)),
      temp = if (rnd.nextDouble() < 0.10) None
        else Some(math.round((18.0 + rnd.nextDouble() * 7.0) * 10) / 10.0))
}
