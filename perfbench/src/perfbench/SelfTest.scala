package perfbench

import org.apache.spark.sql.Row

/** Checks of the benchmark's own pieces that need the JVM: generator
  * determinism and digest sensitivity. Exits non-zero on the first
  * failure. Run with `python3 perfbench/run.py --self-test`. */
object SelfTest {

  private var failed = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (pass) "PASS" else "FAIL"} $name")
    if (!pass) failed += 1
  }

  def main(args: Array[String]): Unit = {
    val s1 = Gen.survey(7, 600)
    val s2 = Gen.survey(7, 600)
    check("survey generator: same seed, same digest and planted labels") {
      s1.digest == s2.digest && s1.planted.sameElements(s2.planted)
    }
    check("survey generator: another seed, other answers") {
      // not merely the same stream shifted by a few draws
      val other = Gen.survey(8, 600)
      other.digest != s1.digest &&
        s1.rows.zip(other.rows).count { case (a, b) => a.getString(6) == b.getString(6) } < 450
    }
    check("survey generator: schema width, planted segments, rare answer") {
      val rare = s1.schema.fieldIndex("q_uk_rare_9999")
      s1.schema.length == 40 && s1.planted.toSet == Set(0, 1, 2) &&
        s1.rows.count(_.getString(rare) == "rare") == 3
    }
    check("survey generator: about 3% NA in a question column") {
      val col = s1.schema.fieldIndex(Gen.ClusterCols.head)
      val na = s1.rows.count(_.isNullAt(col)).toDouble / s1.rows.length
      na > 0.005 && na < 0.07
    }
    val c1 = Gen.corpus(11, 500)
    check("corpus generator: same seed, same digest, slice and copies") {
      val c2 = Gen.corpus(11, 500)
      c1.digest == c2.digest && c1.evalResidue == c2.evalResidue &&
        c1.exactCopies == c2.exactCopies
    }
    check("corpus generator: the seed chooses the evaluation slice") {
      Gen.corpus(12, 500).evalResidue != c1.evalResidue &&
        Gen.corpus(12, 500).digest != c1.digest
    }
    check("corpus generator: planted exact copies normalize to their source") {
      val text = c1.rows.map(r => r.getLong(0) -> r.getString(1)).toMap
      def norm(s: String) = s.toLowerCase.split(" +").mkString(" ")
      c1.exactCopies.nonEmpty &&
        c1.exactCopies.forall { case (a, b) => norm(text(a)) == norm(text(b)) }
    }

    val deliver = Seq(
      Row("0", "psy_uk_outlook_3456_tgt", 41.123456789, 1.2e-8, 4L, false,
        "agree", Seq("agree"), Seq(55.12), Seq(54.9)),
      Row("1", "q_uk_rare_9999", 7.5, 0.023, 2L, true, "no", Seq("rare"),
        Seq(0.1), Seq(0.12)))
    val d0 = Checks.digestRows(deliver)
    def perturbed(stat: Double) = Checks.digestRows(deliver.updated(0,
      Row.fromSeq(deliver.head.toSeq.updated(2, stat))))
    check("digest: row order does not matter") {
      Checks.digestRows(deliver.reverse) == d0
    }
    check("digest: a perturbed output value fails the check") {
      perturbed(41.12346) != d0 && perturbed(41.123456789 * (1 + 1e-6)) != d0
    }
    check("digest: last-bit floating-point noise does not") {
      perturbed(41.123456789 + 1e-13) == d0
    }
    check("digest: a changed category list fails the check") {
      Checks.digestRows(deliver.updated(1, Row.fromSeq(
        deliver(1).toSeq.updated(7, Seq("rare", "yes"))))) != d0
    }
    check("ARI: identical labelings 1, relabeled 1, independent about 0") {
      val a = Seq(0, 0, 1, 1, 2, 2)
      math.abs(Checks.ari(a, a) - 1) < 1e-12 &&
        math.abs(Checks.ari(a, Seq(2, 2, 0, 0, 1, 1)) - 1) < 1e-12 &&
        Checks.ari(a, Seq(0, 1, 0, 1, 0, 1)) < 0.1
    }
    check("metric keys: a missing key is reported") {
      val full = (Checks.ScalarMetricKeys :+ "bic").map(_ -> 0.0).toMap ++
        Map("cluster_proportion_0" -> 0.5, "cluster_proportion_1" -> 0.5)
      Checks.missingMetricKeys("lca", full, Set("0", "1")).isEmpty &&
        Checks.missingMetricKeys("lca", full - "uniqueness", Set("0", "1")) ==
          Seq("uniqueness") &&
        Checks.missingMetricKeys("lca", full, Set("0", "1", "2")) ==
          Seq("cluster_proportion_2")
    }

    println(if (failed == 0) "self-test: all passed" else s"self-test: $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
