package graft.stats

import graft.SparkSpecBase

class DawidSkeneSpec extends SparkSpecBase {
  import spark.implicits._

  private val classes = Seq("a", "b")

  private def fit(rows: (Long, String, String, String)*) =
    DawidSkene.fit(rows.toDF("item", "r1", "r2", "r3"), "item",
      Seq("r1", "r2", "r3"), classes)
      .collect().map(r => r.getAs[Long]("item") ->
        (r.getAs[String]("label"), r.getAs[Long]("conf_micro"))).toMap

  test("unanimous raters: consensus is the unanimous label, high conf") {
    val m = fit((1L, "a", "a", "a"), (2L, "b", "b", "b"),
      (3L, "a", "a", "a"), (4L, "b", "b", "b"))
    assert(m(1L)._1 === "a" && m(2L)._1 === "b")
    assert(m.values.forall(_._2 > 900000L))
  }

  test("2-of-3 majority wins when the dissenter is unsystematic") {
    val m = fit((1L, "a", "a", "b"), (2L, "a", "a", "a"),
      (3L, "b", "b", "b"), (4L, "b", "a", "b"), (5L, "a", "a", "a"),
      (6L, "b", "b", "a"))
    assert(m(1L)._1 === "a")
    assert(m(4L)._1 === "b")
    assert(m(6L)._1 === "b")
  }

  test("exactly one output row per item, posterior in (0, 1e6]") {
    val m = fit((1L, "a", "b", "a"), (2L, "b", "a", "b"),
      (3L, "a", "a", "b"))
    assert(m.size === 3)
    assert(m.values.forall(v => v._2 > 0L && v._2 <= 1000000L))
  }

  test("deterministic: repeated fits are bit-identical") {
    val rows = Seq((1L, "a", "a", "b"), (2L, "b", "b", "a"),
      (3L, "a", "b", "a"), (4L, "b", "a", "b"))
    assert(fit(rows: _*) === fit(rows: _*))
  }

  test("perfect symmetry resolves by the lexicographic tiebreak") {
    // two raters a, one rater b vs mirrored: fully symmetric panel
    val wide = Seq((1L, "a", "b"), (2L, "b", "a")).toDF("item", "r1", "r2")
    val out = DawidSkene.fit(wide, "item", Seq("r1", "r2"), classes)
      .collect().map(r => r.getAs[Long]("item") ->
        r.getAs[String]("label")).toMap
    // posteriors are exactly tied by symmetry -> smallest class label
    assert(out(1L) === "a" && out(2L) === "a")
  }

  test("combo fast path equals the distributed loop row for row") {
    // r16 value-counts rewrite: the driver-side EM over (label-tuple,
    // count) rows must reproduce the per-sweep distributed loop exactly —
    // same posteriors, same argmax tie-breaks — including repeated
    // tuples, a skewed rater, and a symmetric tie
    val rows = Seq(
      (1L, "a", "a", "b"), (2L, "b", "b", "a"), (3L, "a", "b", "a"),
      (4L, "b", "a", "b"), (5L, "a", "a", "b"), (6L, "a", "a", "a"),
      (7L, "b", "b", "b"), (8L, "a", "a", "b"), (9L, "b", "a", "a"),
      (10L, "a", "b", "b"))
    val wide = rows.toDF("item", "r1", "r2", "r3")
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("item") ->
        (r.getAs[String]("label"), r.getAs[Long]("conf_micro"))).toMap
    val fast = collectMap(DawidSkene.fit(
      wide, "item", Seq("r1", "r2", "r3"), classes))
    val slow = collectMap(DawidSkene.fitGated(
      wide, "item", Seq("r1", "r2", "r3"), classes, iters = 5,
      maxCombos = 0))
    assert(fast === slow)
  }

  test("combo fast path on the three-class gate shape equals distributed") {
    val classes3 = Seq("high", "low", "mid")
    val rows = Seq(
      (1L, "low", "mid", "low"), (2L, "high", "high", "mid"),
      (3L, "mid", "mid", "mid"), (4L, "low", "low", "high"),
      (5L, "high", "mid", "high"), (6L, "low", "mid", "low"),
      (7L, "mid", "high", "low"), (8L, "high", "high", "high"))
    val wide = rows.toDF("item", "r1", "r2", "r3")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("item").collect().map(_.toSeq).toSeq
    assert(dump(DawidSkene.fit(wide, "item", Seq("r1", "r2", "r3"),
        classes3)) ===
      dump(DawidSkene.fitGated(wide, "item", Seq("r1", "r2", "r3"),
        classes3, iters = 5, maxCombos = 0)))
  }

  test("combo fast path accepts null and non-string rater labels like the distributed loop") {
    // integer labels (classes "1"/"2" after the string cast) and null
    // votes: the fast path reads labels as strings, so both gate paths
    // accept the frame; items with a null vote drop out of the E-step the
    // same way on both
    val rows = Seq[(Long, Integer, Integer, Integer)](
      (1L, 1, 1, 2), (2L, 2, 2, 1), (3L, 1, null, 1), (4L, 2, 1, 2),
      (5L, 1, 1, 2), (6L, null, null, null), (7L, 2, 2, 2), (8L, 1, 2, 1),
      (9L, 2, null, 2), (10L, 1, 1, 1))
    val wide = rows.toDF("item", "r1", "r2", "r3")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("item").collect().map(_.toSeq).toSeq
    val fast = dump(DawidSkene.fit(wide, "item", Seq("r1", "r2", "r3"),
      Seq("1", "2")))
    assert(fast.nonEmpty)
    assert(fast === dump(DawidSkene.fitGated(wide, "item",
      Seq("r1", "r2", "r3"), Seq("1", "2"), iters = 5, maxCombos = 0)))
  }
}
