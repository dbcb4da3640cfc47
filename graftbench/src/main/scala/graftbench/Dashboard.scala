package graftbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The dashboard reads: the README analytics plus point, window,
  * time-travel and version-diff reads. Each read runs in Spark over a
  * frame the program's read path returns, and is checked against the
  * same query evaluated in plain Scala over the expected rows.
  *
  * An answer is a list of (group key, values) sorted by key; null
  * aggregates read as NaN. */
object Dashboard {

  type Answer = Vector[(String, Vector[Double])]

  sealed trait Read { def kind: String }
  case object ValueByRegion extends Read { val kind = "value_by_region" }
  case object QualityTrends extends Read { val kind = "quality_trends" }
  case object RegionDistribution extends Read { val kind = "region_distribution" }
  final case class ShipmentLookup(key: Long) extends Read { val kind = "shipment_lookup" }
  final case class RegionWindow(region: Int, loSec: Long, hiSec: Long) extends Read {
    val kind = "region_window"
  }
  /** `value_by_region` on an older committed version. */
  final case class TimeTravel(version: Long) extends Read { val kind = "time_travel" }
  /** Change counts between `version - 1` and `version`. */
  final case class VersionDiff(version: Long) extends Read { val kind = "version_diff" }

  val kinds: Seq[String] = Seq("value_by_region", "quality_trends", "region_distribution",
    "shipment_lookup", "region_window", "time_travel", "version_diff")

  /** A read of `kind` with seeded parameters; `keys` are the live keys,
    * `versions` the committed versions (two or more). */
  def draw(rnd: SplittableRandom, kind: String, keys: IndexedSeq[Long],
      versions: IndexedSeq[Long]): Read = kind match {
    case "value_by_region" => ValueByRegion
    case "quality_trends" => QualityTrends
    case "region_distribution" => RegionDistribution
    case "shipment_lookup" => ShipmentLookup(keys(rnd.nextInt(keys.size)))
    case "region_window" =>
      val lo = LandingGen.baseEpochSec - 730L * 86400 + rnd.nextInt(640) * 86400L
      RegionWindow(rnd.nextInt(LandingGen.regions.size), lo, lo + (30 + rnd.nextInt(61)) * 86400L)
    case "time_travel" => TimeTravel(versions(rnd.nextInt(versions.size - 1)))
    case "version_diff" => VersionDiff(versions(1 + rnd.nextInt(versions.size - 1)))
  }

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)

  /** The read as a Spark query over `df` (the warehouse rows). */
  def query(r: Read, df: DataFrame): DataFrame = r match {
    case ValueByRegion | TimeTravel(_) =>
      df.groupBy(col("region").as("k"))
        .agg(sum("shipment_value_usd"), count(lit(1)).cast("double"))
    case QualityTrends =>
      df.groupBy(concat_ws("/", date_format(col("timestamp"), "yyyy-MM"), col("bean_type")).as("k"))
        .agg(avg("quality_score"), count(lit(1)).cast("double"))
    case RegionDistribution =>
      df.groupBy(concat_ws("/", col("region"), col("bean_type")).as("k"))
        .agg(count(lit(1)).cast("double"), avg("shipment_weight_kg"))
    case ShipmentLookup(key) =>
      df.filter(col("shipment_id") === LandingGen.keyId(key))
    case RegionWindow(region, lo, hi) =>
      df.filter(col("region") === LandingGen.regions(region) &&
          col("timestamp") >= lit(ts(lo)) && col("timestamp") < lit(ts(hi)))
        .agg(lit("w").as("k"), count(lit(1)).cast("double"), sum("shipment_value_usd"),
          avg("quality_score"))
    case VersionDiff(_) =>
      df.groupBy(col("change_type").as("k")).agg(count(lit(1)).cast("double"))
  }

  /** Collected rows as an answer: lookups compare whole rows by their
    * canonical form, aggregates by (key, values). */
  def answer(r: Read, rows: Array[Row]): Answer = (r match {
    case ShipmentLookup(_) => rows.toVector.map(x => (Expected.canonicalOf(x), Vector.empty[Double]))
    case _ => rows.toVector.map(x => (x.getString(0),
      (1 until x.length).map(i => if (x.isNullAt(i)) Double.NaN else x.getAs[Number](i).doubleValue).toVector))
  }).sortBy(_._1)

  /** The same read evaluated over the expected rows. `diffFrom` is the
    * expected snapshot of the version before, for version diffs. */
  def expected(r: Read, rows: Vector[WRow], byKey: Long => Option[WRow],
      diffFrom: Vector[WRow]): Answer = {
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    def region(w: WRow) = LandingGen.regions(w.s.region)
    def bean(w: WRow) = LandingGen.beanTypes(w.s.bean)
    val out: Iterable[(String, Vector[Double])] = r match {
      case ValueByRegion | TimeTravel(_) =>
        rows.groupBy(region).map { case (k, ws) =>
          val vs = ws.flatMap(_.value)
          k -> Vector(if (vs.isEmpty) Double.NaN else vs.sum, ws.size.toDouble)
        }
      case QualityTrends =>
        rows.groupBy(w => LocalDateTime.ofEpochSecond(w.s.ts, 0, ZoneOffset.UTC).toString
            .take(7) + "/" + bean(w))
          .map { case (k, ws) => k -> Vector(mean(ws.flatMap(_.s.quality)), ws.size.toDouble) }
      case RegionDistribution =>
        rows.groupBy(w => region(w) + "/" + bean(w)).map { case (k, ws) =>
          k -> Vector(ws.size.toDouble, mean(ws.flatMap(_.s.weight.map(_.toDouble))))
        }
      case ShipmentLookup(key) => byKey(key).map(w => w.canonical -> Vector.empty[Double])
      case RegionWindow(reg, lo, hi) =>
        val ws = rows.filter(w => w.s.region == reg && w.s.ts >= lo && w.s.ts < hi)
        val vs = ws.flatMap(_.value)
        Seq("w" -> Vector(ws.size.toDouble, if (vs.isEmpty) Double.NaN else vs.sum,
          mean(ws.flatMap(_.s.quality))))
      case VersionDiff(_) =>
        val before = diffFrom.iterator.map(w => w.s.key -> w.hash).toMap
        val (ins, upd) = rows.foldLeft((0, 0)) { case ((i, u), w) =>
          before.get(w.s.key) match {
            case None => (i + 1, u)
            case Some(h) if h != w.hash => (i, u + 1)
            case _ => (i, u)
          }
        }
        Seq("insert" -> ins, "update" -> upd).filter(_._2 > 0).map { case (k, n) => k -> Vector(n.toDouble) }
    }
    out.toVector.sortBy(_._1)
  }

  /** Equal keys, and values equal up to summation-order rounding. */
  def same(a: Answer, b: Answer): Boolean =
    a.size == b.size && a.zip(b).forall { case ((ka, va), (kb, vb)) =>
      ka == kb && va.size == vb.size && va.zip(vb).forall { case (x, y) =>
        (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x) max math.abs(y))
      }
    }
}
