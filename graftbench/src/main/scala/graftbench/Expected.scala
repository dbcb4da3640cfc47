package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graftbench.LandingGen.{Batch, Shipment}

/** A warehouse row as the checks compare it. */
final case class WRow(s: Shipment, processedAtMs: Long) {
  lazy val value: Option[Double] =
    s.weight.map(w => BigDecimal(w * 2.5).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)

  def canonical: String = Expected.canonical(LandingGen.keyId(s.key), s.ts,
    s"FARM-${s.farm}", LandingGen.regions(s.region), LandingGen.beanTypes(s.bean),
    s.quality, s.weight, s.temp, value, processedAtMs)

  lazy val hash: Long = Expected.hash64(canonical)
}

/** The expected warehouse, recomputed independently of the program:
  * plain last-writer-wins over the landed rows of the valid files. A
  * batch overwrites earlier batches per key; within a batch the row
  * with the latest event timestamp wins (the generator never ties).
  * Count and an order-insensitive hash (sum of row hashes mod 2^64)
  * are maintained incrementally. */
final class Expected {
  private val rows = new java.util.HashMap[Long, WRow]()
  private var hashSum = 0L

  def copy(): Expected = {
    val e = new Expected
    e.rows.putAll(rows)
    e.hashSum = hashSum
    e
  }

  def count: Long = rows.size.toLong
  def hash: Long = hashSum
  def get(key: Long): Option[WRow] = Option(rows.get(key))
  def snapshot: Vector[WRow] = {
    import scala.jdk.CollectionConverters._
    rows.values().asScala.toVector
  }

  /** Apply one batch; returns (rows landed, distinct keys landed). */
  def apply(batch: Batch, processedAtMs: Long): (Long, Long) = {
    val winners = mutable.HashMap.empty[Long, Shipment]
    var landed = 0L
    batch.validRows.foreach { s =>
      landed += 1
      winners.get(s.key) match {
        case Some(w) if w.ts >= s.ts =>
        case _ => winners(s.key) = s
      }
    }
    winners.valuesIterator.foreach { s =>
      val r = WRow(s, processedAtMs)
      val old = rows.put(s.key, r)
      if (old != null) hashSum -= old.hash
      hashSum += r.hash
    }
    (landed, winners.size.toLong)
  }
}

object Expected {

  def canonical(id: String, tsSec: Long, farm: String, region: String, bean: String,
      quality: Option[Double], weight: Option[Long], temp: Option[Double],
      value: Option[Double], processedAtMs: Long): String = {
    def o(x: Option[Any]) = x.fold("null")(_.toString)
    s"$id|$tsSec|$farm|$region|$bean|${o(quality)}|${o(weight)}|${o(temp)}|${o(value)}|$processedAtMs"
  }

  /** 64-bit string hash: two independent 32-bit murmur3 halves. */
  def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x7f4a7c15)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  private def opt[T](r: Row, i: Int)(f: Int => T): Option[T] =
    if (r.isNullAt(i)) None else Some(f(i))

  /** The canonical string of a row read back from the warehouse
    * (columns in `CocoaSchema.warehouse` order). */
  def canonicalOf(r: Row): String = canonical(r.getString(0),
    r.getTimestamp(1).getTime / 1000, r.getString(2), r.getString(3), r.getString(4),
    opt(r, 5)(r.getDouble), opt(r, 6)(r.getLong), opt(r, 7)(r.getDouble),
    opt(r, 8)(r.getDouble), r.getTimestamp(9).getTime)

  /** (count, hash) of a warehouse frame, computed in one Spark job. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = graft.pipeline.CocoaSchema.warehouse.fieldNames.map(df.col)
    df.select(cols.toIndexedSeq: _*).rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += hash64(canonicalOf(r)) }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}
