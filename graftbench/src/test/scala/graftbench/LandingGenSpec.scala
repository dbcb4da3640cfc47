package graftbench

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graftbench.LandingGen.Plan

class LandingGenSpec extends AnyFunSuite {

  private val plan = Plan(seed = 7, batches = 3, filesPerBatch = 12, overlap = 0.3,
    firstBatchFiles = 20)

  private def bytesOf(bs: Vector[LandingGen.Batch]) =
    bs.flatMap(_.files.map(f => f.name -> f.bytes.toSeq))

  test("the same seed gives the same bytes, serial or parallel") {
    val a = LandingGen.generate(plan, parallelism = 1)
    val b = LandingGen.generate(plan, parallelism = 4)
    assert(bytesOf(a) == bytesOf(b))
    val c = LandingGen.generate(plan.copy(seed = 8))
    assert(bytesOf(a) != bytesOf(c))
  }

  test("files follow the reference's size law and header rules") {
    val bs = LandingGen.generate(plan)
    assert(bs.map(_.files.size) == Vector(20, 12, 12))
    for (b <- bs; f <- b.files) {
      val lines = new String(f.bytes, StandardCharsets.UTF_8).split("\n")
      val header = lines.head.split(",").toSet
      assert(lines.length - 1 == f.rows.size)
      assert(f.rows.size >= LandingGen.minRows && f.rows.size <= LandingGen.maxRows)
      assert(f.quarantined == !LandingGen.columns.forall(header.contains), f.name)
    }
  }

  test("batches overlap earlier keys and never tie a key within a batch") {
    val bs = LandingGen.generate(plan)
    val seen = bs(0).validRows.map(_.key).toSet
    val later = bs(1).validRows.toVector
    assert(later.count(r => seen(r.key)) > later.size / 10)
    for (b <- bs) {
      val byKey = b.files.flatMap(_.rows).groupBy(_.key)
      assert(byKey.values.forall(rs => rs.map(_.ts).distinct.size == rs.size))
      assert(byKey.values.exists(_.size > 1), "expected within-batch duplicate keys")
    }
  }

  test("the expectation keeps the latest row per key, later batches winning") {
    val bs = LandingGen.generate(plan)
    val exp = new Expected
    bs.zipWithIndex.foreach { case (b, i) => exp(b, 1000L * i) }
    val last = bs.flatMap(_.validRows).groupBy(_.key).map { case (k, _) => k }.toSet
    assert(exp.count == last.size)
    val winner = bs.reverseIterator.flatMap { b =>
      b.validRows.toVector.groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.ts) }
    }.foldLeft(Map.empty[Long, LandingGen.Shipment]) { case (m, (k, r)) =>
      if (m.contains(k)) m else m.updated(k, r)
    }
    assert(winner.forall { case (k, r) => exp.get(k).map(_.s).contains(r) })
  }
}
