package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def rec(id: Int, parent: Option[Int], start: Double, end: Double) =
    SpanRecord(id, s"s$id", parent, 1, (start * 1e9).toLong, (end * 1e9).toLong)

  test("self time is wall time net of direct children only") {
    val spans = Seq(
      rec(0, None, 0, 10),
      rec(1, Some(0), 1, 3),
      rec(2, Some(0), 4, 8),
      rec(3, Some(2), 5, 6), // grandchild: charged to span 2, not span 0
      rec(4, None, 20, 21))
    val self = Trace.selfTimes(spans)
    assert(math.abs(self(0) - 4.0) < 1e-9)
    assert(math.abs(self(1) - 2.0) < 1e-9)
    assert(math.abs(self(2) - 3.0) < 1e-9)
    assert(math.abs(self(3) - 1.0) < 1e-9)
    assert(math.abs(self(4) - 1.0) < 1e-9)
    // self times of a tree add up to the root's wall time
    assert(math.abs((0 to 3).map(self).sum - 10.0) < 1e-9)
  }

  test("jobs, stages and tasks are booked to the innermost open span") {
    val spark = SparkSession.builder().master("local[2]").appName("TraceSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val t = new Trace(spark.sparkContext)
      spark.sparkContext.addSparkListener(t.listener)
      t.newOp()
      t.span("outer") {
        spark.range(0, 1000, 1, 2).count()
        t.span("inner")(spark.range(0, 1000, 1, 3).collect())
      }
      spark.range(0, 10).count() // outside any span: not booked
      org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
      val byName = t.spans.map(s => s.name -> s).toMap
      val w = t.workBySpan
      assert(byName("inner").parent.contains(byName("outer").id))
      assert(w(byName("inner").id).jobs == 1)
      assert(w(byName("inner").id).tasks == 3)
      assert(w(byName("outer").id).jobs >= 1)
      assert(w.keySet == Set(byName("outer").id, byName("inner").id))
      assert(spark.sparkContext.getLocalProperty(Trace.property) == null)
    } finally spark.stop()
  }
}
