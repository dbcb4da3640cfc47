package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestSession

/** Unit + property tests for the last-writer-wins keyed merge (O14):
  * insert/update split, idempotency, batch-commutativity up to LWW,
  * and row-count conservation (SURVEY.md §5 test plan #2).
  * Property cases are drawn with raw ScalaCheck Gens (scalatestplus
  * is not on the offline classpath). */
class MergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private def df(rows: Seq[(String, Long, Double)]): DataFrame =
    rows.toDF("k", "ord", "v")
      .select(col("k"), timestamp_seconds(col("ord")).as("processed_at"), col("v"))

  private def merge(t: DataFrame, u: DataFrame): DataFrame =
    Merge.upsert(t, u, "k", col("processed_at"), Seq(col("v")))

  private def asMap(d: DataFrame): Map[String, (Long, Double)] =
    d.select(col("k"), unix_timestamp(col("processed_at")), col("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("insert new keys, update existing, last writer wins") {
    val target = df(Seq(("a", 10, 1.0), ("b", 10, 2.0)))
    val updates = df(Seq(("b", 20, 9.0), ("c", 20, 3.0), ("c", 30, 4.0)))
    val out = asMap(merge(target, updates))
    assert(out === Map(
      "a" -> (10L, 1.0),   // untouched
      "b" -> (20L, 9.0),   // updated
      "c" -> (30L, 4.0)))  // within-batch LWW then insert
  }

  test("update columns differing only in case still carry their data") {
    // Spark resolution is case-insensitive by default; an exact-name
    // alignment would silently null-fill "V" and drop the batch's
    // values while every other resolution path in the query matched it
    val target = df(Seq(("a", 10, 1.0)))
    val updates = df(Seq(("b", 20, 9.0)))
      .withColumnRenamed("v", "V")
    val out = asMap(merge(target, updates))
    assert(out === Map("a" -> (10L, 1.0), "b" -> (20L, 9.0)),
      "case-insensitively matching update column must not be null-filled")
  }

  test("merge is idempotent: merge(merge(T,U),U) == merge(T,U)") {
    val target = df(Seq(("a", 10, 1.0), ("b", 10, 2.0)))
    val updates = df(Seq(("b", 20, 9.0), ("c", 20, 3.0)))
    val once = merge(target, updates)
    val twice = merge(once, updates)
    assert(asMap(once) === asMap(twice))
  }

  test("key uniqueness and count conservation hold for arbitrary batches") {
    val rowGen = for {
      k <- Gen.oneOf((1 to 8).map(i => s"k$i"))
      ord <- Gen.choose(1L, 100L)
      v <- Gen.choose(0, 1000).map(_.toDouble)
    } yield (k, ord, v)
    val listGen = Gen.listOf(rowGen)
    (1 to 20).foreach { i =>
      val tRows = listGen.apply(Gen.Parameters.default, Seed(i * 2L)).getOrElse(Nil)
      val uRows = listGen.apply(Gen.Parameters.default, Seed(i * 2L + 1)).getOrElse(Nil)
      val t0 = Merge.lastWriterWins(df(tRows), "k", col("processed_at"), Seq(col("v")))
      val merged = merge(t0, df(uRows))
      val keys = merged.select("k").collect().map(_.getString(0))
      assert(keys.length === keys.distinct.length, s"case $i: merge key must stay unique")
      val expected = (tRows.map(_._1) ++ uRows.map(_._1)).distinct.size
      assert(keys.length === expected, s"case $i: |T'| = |keys(T) ∪ keys(U)|")
    }
  }

  test("upsert's anti-join key set off the raw batch equals the deduped formulation") {
    // reference formulation: the anti join's key set taken from the
    // DEDUPED batch. Dedup keeps one row per key, null included, so
    // the raw batch's key column must name the same set
    def dedupedKeysUpsert(t: DataFrame, u: DataFrame, broadcastKeys: Boolean) = {
      val deduped = Merge.lastWriterWins(u, "k", col("processed_at"), Seq(col("v")))
      val keys = deduped.select(col("k"))
      t.join(if (broadcastKeys) broadcast(keys) else keys, Seq("k"), "left_anti")
        .unionByName(deduped.select(t.columns.map(col).toSeq: _*))
    }
    def rowsOf(d: DataFrame) =
      d.select(col("k"), unix_timestamp(col("processed_at")), col("v")).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val rowGen = for {
      k <- Gen.frequency(1 -> Gen.const(null: String), 6 -> Gen.oneOf((1 to 6).map(i => s"k$i")))
      ord <- Gen.choose(1L, 20L)
      v <- Gen.choose(0, 1000).map(_.toDouble)
    } yield (k, ord, v)
    val listGen = Gen.listOfN(12, rowGen)
    (1 to 8).foreach { i =>
      val tRows = listGen.apply(Gen.Parameters.default, Seed(i * 7L)).getOrElse(Nil)
      val uRows = listGen.apply(Gen.Parameters.default, Seed(i * 7L + 1)).getOrElse(Nil)
      assert(uRows.map(_._1).distinct.size < uRows.size, s"case $i: batch must repeat keys")
      val t = df(tRows)
      val u = df(uRows)
      for (b <- Seq(true, false)) assert(
        rowsOf(Merge.upsert(t, u, "k", col("processed_at"), Seq(col("v")), broadcastKeys = b)) ===
          rowsOf(dedupedKeysUpsert(t, u, b)),
        s"case $i, broadcastKeys=$b")
    }
    // a null key in the batch, with a null-keyed target row beside it
    val t = df(Seq(("a", 1, 1.0), (null, 1, 2.0)))
    val u = df(Seq((null, 5, 3.0), (null, 6, 4.0), ("a", 7, 5.0), ("a", 8, 6.0)))
    for (b <- Seq(true, false)) assert(
      rowsOf(Merge.upsert(t, u, "k", col("processed_at"), Seq(col("v")), broadcastKeys = b)) ===
        rowsOf(dedupedKeysUpsert(t, u, b)))
  }

  test("upsert follows reference semantics: the applied batch always overwrites") {
    // ON CONFLICT DO UPDATE ignores ord vs target — last APPLIED wins.
    val t = df(Seq(("a", 100, 1.0)))
    val stale = df(Seq(("a", 5, 9.0)))
    assert(asMap(merge(t, stale)) === Map("a" -> (5L, 9.0)))
  }

  test("mergeByOrd commutes across batches (late-data variant)") {
    def m(t: DataFrame, u: DataFrame) =
      Merge.mergeByOrd(t, u, "k", col("processed_at"), Seq(col("v")))
    val t = df(Seq(("a", 1, 1.0)))
    val u1 = df(Seq(("a", 10, 5.0), ("b", 11, 6.0)))
    val u2 = df(Seq(("a", 20, 7.0), ("c", 21, 8.0)))
    val ab = m(m(t, u1), u2)
    val ba = m(m(t, u2), u1)
    assert(asMap(ab) === asMap(ba))
    assert(asMap(ab)("a") === (20L, 7.0), "greatest ord wins regardless of batch order")
  }

  // --- conditional MERGE INTO ---

  private def simple(rows: Seq[(String, Long)]): DataFrame =
    rows.toDF("k", "v")

  private def asSimpleMap(d: DataFrame): Map[String, Long] =
    d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("mergeInto: clause precedence, conditions, and pass-through") {
    val target = simple(Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)))
    val source = simple(Seq(
      ("a", 100L), // matched, v>=50 → delete (even though update cond also true)
      ("b", 20L),  // matched, update cond v%2==0 → take source
      ("c", 21L),  // matched, neither cond → keep target
      ("x", 10L),  // unmatched, insert cond → insert
      ("y", 11L))) // unmatched, insert cond fails → dropped
    val out = Merge.mergeInto(target, source, Seq("k"),
      matchedDelete = Some(col("s.v") >= 50),
      matchedUpdate = Some(col("s.v") % 2 === 0),
      notMatchedInsert = Some(col("s.v") % 2 === 0))
    assert(asSimpleMap(out) ===
      Map("b" -> 20L, "c" -> 3L, "d" -> 4L, "x" -> 10L))
  }

  test("mergeInto: null conditions fire nothing; absent clauses are inert") {
    val target = Seq(("a", Some(1L)), ("b", Some(2L))).toDF("k", "v")
    val source = Seq(("a", Option.empty[Long]), ("z", Option.empty[Long])).toDF("k", "v")
    // conditions reference s.v (null) → never true → matched row kept,
    // unmatched row NOT inserted
    val out = Merge.mergeInto(target, source, Seq("k"),
      matchedDelete = Some(col("s.v") > 0),
      matchedUpdate = Some(col("s.v") > 0),
      notMatchedInsert = Some(col("s.v") > 0))
    assert(out.collect().map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
    // no clauses at all (insert defaulted off) → merge is the identity
    val id = Merge.mergeInto(target, source, Seq("k"),
      notMatchedInsert = None)
    assert(id.collect().map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
  }

  test("mergeInto: a key matched by two source rows fails loudly") {
    val target = simple(Seq(("a", 1L)))
    val source = simple(Seq(("a", 2L), ("a", 3L)))
    val e = intercept[Exception] {
      Merge.mergeInto(target, source, Seq("k")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(_.contains("duplicate key rows")), e.getMessage)
  }

  // ---- SCD Type-2 ----

  private def scd2Rows(df: DataFrame): Set[(String, Double, Long, Option[Long], Boolean)] =
    df.collect().map(r => (r.getString(0), r.getDouble(2),
      r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
      r.getBoolean(5))).toSet

  test("scd2: change closes the old interval and opens a new one; new keys open; absent keys persist") {
    val b1 = Seq(("a", 1L, 10.0), ("b", 1L, 20.0), ("c", 1L, 30.0)).toDF("k", "ord", "v")
    val t0 = Merge.scd2Init(b1, "k", 100L, col("ord"))
    // batch 2: a changes, b absent, c unchanged (new ord but same v), d new
    val b2 = Seq(("a", 2L, 11.0), ("c", 2L, 30.0), ("d", 2L, 40.0)).toDF("k", "ord", "v")
    val t1 = Merge.scd2Merge(t0, b2, "k", Seq("v"), 200L, col("ord"))
    assert(scd2Rows(t1) === Set(
      ("a", 10.0, 100L, Some(200L), false), // closed
      ("a", 11.0, 200L, None, true),        // reopened with the new image
      ("b", 20.0, 100L, None, true),        // absent from batch: untouched
      ("c", 30.0, 100L, None, true),        // business-identical: no history minted
      ("d", 40.0, 200L, None, true)))       // new key opens at t2
  }

  test("scd2: a third batch stacks history; closed rows pass through untouched") {
    val t0 = Merge.scd2Init(Seq(("a", 1L, 1.0)).toDF("k", "ord", "v"), "k", 10L, col("ord"))
    val t1 = Merge.scd2Merge(t0, Seq(("a", 2L, 2.0)).toDF("k", "ord", "v"),
      "k", Seq("v"), 20L, col("ord"))
    val t2 = Merge.scd2Merge(t1, Seq(("a", 3L, 3.0)).toDF("k", "ord", "v"),
      "k", Seq("v"), 30L, col("ord"))
    assert(scd2Rows(t2) === Set(
      ("a", 1.0, 10L, Some(20L), false),
      ("a", 2.0, 20L, Some(30L), false),
      ("a", 3.0, 30L, None, true)))
    // as-of reads resolve each era with one interval predicate
    def asOf(t: Long): Double = t2.filter(col("valid_from_ms") <= t &&
        (col("valid_to_ms").isNull || col("valid_to_ms") > t))
      .head().getDouble(2)
    assert(asOf(15L) === 1.0 && asOf(25L) === 2.0 && asOf(35L) === 3.0)
  }

  test("scd2: within-batch LWW dedup applies before the merge") {
    val t0 = Merge.scd2Init(Seq(("a", 1L, 1.0)).toDF("k", "ord", "v"), "k", 10L, col("ord"))
    // two images of `a` in one batch: only the latest (ord=3) lands
    val t1 = Merge.scd2Merge(t0,
      Seq(("a", 2L, 98.0), ("a", 3L, 99.0)).toDF("k", "ord", "v"),
      "k", Seq("v"), 20L, col("ord"))
    assert(scd2Rows(t1) === Set(
      ("a", 1.0, 10L, Some(20L), false),
      ("a", 99.0, 20L, None, true)))
  }

  test("scd2: null-safe business compare — null → value and value → null both mint history") {
    val b1 = Seq(("a", 1L, Some(1.0)), ("b", 1L, Option.empty[Double]))
      .toDF("k", "ord", "v")
    val t0 = Merge.scd2Init(b1, "k", 10L, col("ord"))
    val b2 = Seq(("a", 2L, Option.empty[Double]), ("b", 2L, Some(2.0)))
      .toDF("k", "ord", "v")
    val t1 = Merge.scd2Merge(t0, b2, "k", Seq("v"), 20L, col("ord"))
    val cur = t1.filter(col("is_current")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(cur === Map("a" -> None, "b" -> Some(2.0)))
    assert(t1.filter(!col("is_current")).count() === 2)
  }

  test("scd2: schema misuse fails loudly") {
    val t0 = Merge.scd2Init(Seq(("a", 1L, 1.0)).toDF("k", "ord", "v"), "k", 10L, col("ord"))
    val e = intercept[IllegalArgumentException] {
      Merge.scd2Merge(t0, t0, "k", Seq("v"), 20L, col("ord"))
    }
    assert(e.getMessage.contains("business columns only"))
  }
}
