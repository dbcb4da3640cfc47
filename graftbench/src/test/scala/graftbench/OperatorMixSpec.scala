package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class OperatorMixSpec extends AnyFunSuite {

  test("the operator fixture is the same on every call") {
    val a = OperatorMix.fixture
    val b = OperatorMix.fixture
    assert(a.keySet == Set("lineitem", "documents", "embeddings"))
    for (t <- a.keys) assert(a(t)._2 == b(t)._2, t)
    assert(a("lineitem")._2.size > 5000)
  }

  test("every row has a pinned fingerprint") {
    assert(OperatorMix.rows.toSet == OperatorMix.pinned.keySet)
  }

  test("a result fingerprint ignores row order but not content") {
    val rs = Array(Row(1L, "a", Seq(1.5f, 2.0f)), Row(2L, null, Seq.empty[Float]))
    assert(OperatorMix.fingerprint(rs) == OperatorMix.fingerprint(rs.reverse))
    assert(OperatorMix.fingerprint(rs) != OperatorMix.fingerprint(rs.take(1)))
    assert(OperatorMix.fingerprint(rs) != OperatorMix.fingerprint(Array(Row(1L, "b", Seq(1.5f, 2.0f)),
      Row(2L, null, Seq.empty[Float]))))
  }
}
