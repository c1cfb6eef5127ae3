package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained document classifier over surface features — the DCLM/fastText
  * move (arXiv:2406.11794: train a cheap classifier on rule-derived
  * labels, score the corpus with it): logistic regression by full-batch
  * gradient descent, DISTILLING the rule-based language-id heuristic
  * ([[TextOps.langId]]) into a linear model of its profile scores.
  *
  * QUANTIZED-gradient parameterization, deliberately: each row's
  * per-feature gradient contribution (σ(w·x) − y)·xⱼ FLOORS to integer
  * MICRO-units before the reduction (floor of a double is the binary
  * value floor in BOTH engines; `round`'s half-way semantics diverge —
  * Spark decimal-repr HALF_UP, DuckDB C round, JVM math.round
  * half-toward-+inf — the round-11 q_t_bm25 hazard class), so every
  * gradient sum is an exact
  * integer under any partitioning and the whole fit — per-iteration
  * weights included — is bit-for-bit replayable in DuckDB CTEs (the
  * seeded-unroll family of the KMeans/KModes/BGMM oracles; the
  * quantization perturbs each step by ≤ 5e-7 per row, far below what GD
  * tolerates).
  *
  * Scale: one narrow feature projection (persisted across the loop), one
  * k-column integer aggregation per iteration (map-side combined), and a
  * final counting pass — weights are a config-sized vector on the driver,
  * never a data-sized collect.
  */
object QualityClassifier {

  final case class Fit(weights: Array[Double], n: Long, correct: Long,
      pos: Long)

  private def zCol(w: Array[Double], features: Seq[String]): Column =
    features.zipWithIndex.foldLeft(lit(w(0)): Column) {
      case (acc, (f, j)) => acc + lit(w(j + 1)) * col(f)
    }

  /** Batch-GD logistic fit of `label` (boolean) on `featureCols` with an
    * intercept, zero init, `iters` full-batch steps at rate `lr`.
    *
    * Value-counts fast path (r16, guide §1.2/§2.3 "aggregate before you
    * shuffle"): every per-row quantity the fit ever reads — the gradient
    * term floor((σ(w·x)−y)·xⱼ·1e6), the final correctness predicate, the
    * positive count — depends on the row ONLY through (y, x₁..x_d). So ONE
    * map-side-combined `groupBy(y, features).count()` pass replaces the
    * 20 per-iteration aggregation jobs plus the two counting passes: the
    * distinct-combo table collects once (gated on a MEASURED row bound, the
    * [[graft.dedup.DupClusters]] small-graph precedent — quantized features
    * keep it far below the gate in practice) and all iterations run
    * driver-side over (combo, count) with the IDENTICAL float-op sequence,
    * so each gradient sum is the exact same integer: Σ_rows term =
    * Σ_combos count·term. Past the gate the original per-iteration
    * aggregation loop runs unchanged — at 100 TB the combo table is still
    * bounded by the quantized feature grid, but the gate decides from a
    * measurement, never an assumption. */
  def fit(docs: DataFrame, featureCols: Seq[String], label: Column,
      iters: Int = 20, lr: Double = 1.0, maxCombos: Int = 1 << 20): Fit = {
    val d = featureCols.size
    val feats0 = docs.select(
      (label.cast("double").as("y") +: featureCols.map(col)): _*)
    // one data pass: distinct (y, x) combos with counts, collected through
    // the measured-size gate (null past its row or byte bound)
    val comboRows = graft.DriverGate.collect(feats0
      .groupBy(col("y") +: featureCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .select((col("y") +: featureCols.map(c => col(c).cast("double"))) :+
        col("__cnt"): _*), maxCombos).orNull
    if (comboRows != null) {
      val y = comboRows.map(_.getDouble(0))
      val xs = comboRows.map(r => Array.tabulate(d)(j => r.getDouble(j + 1)))
      val cnt = comboRows.map(_.getLong(d + 1))
      val n = cnt.sum
      require(n > 0, "empty training frame")
      var w = Array.fill(d + 1)(0.0)
      (1 to iters).foreach { _ =>
        val g = Array.fill(d + 1)(0L)
        var i = 0
        while (i < comboRows.length) {
          // identical op order to zCol's foldLeft: ((w0 + w1·f1) + w2·f2)…
          var z = w(0); var j = 0
          while (j < d) { z = z + w(j + 1) * xs(i)(j); j += 1 }
          val err = 1.0 / (1.0 + math.exp(-z)) - y(i)
          g(0) += cnt(i) * math.floor(err * 1.0 * 1e6).toLong
          j = 0
          while (j < d) {
            g(j + 1) += cnt(i) * math.floor(err * xs(i)(j) * 1e6).toLong
            j += 1
          }
          i += 1
        }
        w = w.indices.map(j =>
          w(j) - lr * ((g(j).toDouble / 1e6) / n.toDouble)).toArray
      }
      var correct = 0L
      var pos = 0L
      var i = 0
      while (i < comboRows.length) {
        var z = w(0); var j = 0
        while (j < d) { z = z + w(j + 1) * xs(i)(j); j += 1 }
        if ((z >= 0) == (y(i) == 1.0)) correct += cnt(i)
        if (y(i) == 1.0) pos += cnt(i)
        i += 1
      }
      Fit(w, n, correct, pos)
    } else fitDistributed(feats0, featureCols, iters, lr)
  }

  /** The original per-iteration aggregation loop — the over-gate path
    * (and the parity reference [[graft.text.QualityClassifierSpec]] pins
    * the fast path against). */
  private[text] def fitDistributed(feats0: DataFrame,
      featureCols: Seq[String], iters: Int, lr: Double): Fit = {
    val feats = feats0.persist()
    val n = feats.count()
    require(n > 0, "empty training frame")
    var w = Array.fill(featureCols.size + 1)(0.0)
    (1 to iters).foreach { _ =>
      val err = lit(1.0) / (lit(1.0) + exp(-zCol(w, featureCols))) - col("y")
      val gs = (lit(1.0) +: featureCols.map(col)).zipWithIndex.map {
        case (x, j) => sum(floor(err * x * 1e6).cast("long")).as(s"g$j")
      }
      val g = feats.agg(gs.head, gs.tail: _*).collect()(0)
      w = w.indices.map(j =>
        w(j) - lr * ((g.getLong(j).toDouble / 1e6) / n.toDouble)).toArray
    }
    val correct = feats
      .filter((zCol(w, featureCols) >= 0) === (col("y") === 1.0)).count()
    val pos = feats.filter(col("y") === 1.0).count()
    feats.unpersist(blocking = false)
    Fit(w, n, correct, pos)
  }

  // -- oracle SQL generator (seeded-unroll, LloydOracleSql style) ---------

  /** DuckDB replay of [[fit]] over a pluggable 3-feature CTE chain:
    * `iters` chained (gradient, weight) CTE pairs over a CTE `f` with
    * columns (doc_id, y, f1, f2, f3) that `featureCtes` must produce.
    * Every float literal is e-notation (a bare 1.0 would be DECIMAL and
    * decimal arithmetic would diverge from Spark's double path). */
  private[text] def oracleSql(iters: Int, lr: Double,
      featureCtes: String): String =
    // MATERIALIZED pins each CTE to one evaluation — without it DuckDB
    // re-inlines `f` into every iteration and exhausts file handles
    // (the LloydOracleSql lesson, same failure mode)
    oracleSqlRaw(iters, lr, featureCtes).replace(" AS (", " AS MATERIALIZED (")

  private def z(wt: String) =
    s"($wt.w0 + $wt.w1 * f1 + $wt.w2 * f2 + $wt.w3 * f3)"

  /** CTE chain through the fitted weights `wt{iters}` (plus `f`, `n0`,
    * `p0`) WITHOUT a final SELECT — shared by the fit oracles and the
    * calibration oracle. */
  private def weightCtes(iters: Int, lr: Double,
      featureCtes: String): String = {
    val d = 3
    def wRefs(t: Int) = (0 to d).map(j => s"w$j")
    val xs = Seq("", " * f1", " * f2", " * f3")
    def iteration(t: Int): String = {
      val prev = s"wt${t - 1}"
      val sig = s"(1e0 / (1e0 + exp(-${z(prev)})) - y)"
      val grads = xs.zipWithIndex.map { case (x, j) =>
        s"SUM(CAST(FLOOR($sig$x * 1e6) AS BIGINT)) AS g$j"
      }.mkString(",\n              ")
      val ws = wRefs(t).zipWithIndex.map { case (wn, j) =>
        s"$prev.$wn - ${lr}e0 * ((CAST(g$j AS DOUBLE) / 1e6) / CAST(n AS DOUBLE)) AS $wn"
      }.mkString(",\n              ")
      s"""gt$t AS (SELECT
              $grads
              FROM f CROSS JOIN $prev),
            wt$t AS (SELECT
              $ws
              FROM gt$t CROSS JOIN wt${t - 1} CROSS JOIN n0)"""
    }
    val zeros = (0 to d).map(j => s"0e0 AS w$j").mkString(", ")
    s"""$featureCtes,
            n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f),
            p0 AS (SELECT CAST(COALESCE(SUM(CASE WHEN y = 1e0 THEN 1
                     ELSE 0 END), 0) AS BIGINT) AS n_pos FROM f),
            wt0 AS (SELECT $zeros),
            ${(1 to iters).map(iteration).mkString(",\n            ")}"""
  }

  private def oracleSqlRaw(iters: Int, lr: Double,
      featureCtes: String): String = {
    s"""WITH ${weightCtes(iters, lr, featureCtes)}
            SELECT n0.n AS n, p0.n_pos AS n_pos,
              CAST(FLOOR(w0 * 1e6) AS BIGINT) AS w0_micro,
              CAST(FLOOR(w1 * 1e6) AS BIGINT) AS w1_micro,
              CAST(FLOOR(w2 * 1e6) AS BIGINT) AS w2_micro,
              CAST(FLOOR(w3 * 1e6) AS BIGINT) AS w3_micro,
              (SELECT CAST(SUM(CASE WHEN (${z(s"wt$iters")} >= 0e0)
                     = (y = 1e0) THEN 1 ELSE 0 END) AS BIGINT)
               FROM f CROSS JOIN wt$iters) AS n_correct
            FROM wt$iters CROSS JOIN n0 CROSS JOIN p0"""
  }

  /** The langid-score feature chain (the original distillation target —
    * replays [[TextOps.langId]]'s profile scores). */
  private val langidFeatureCtes: String =
    """t AS (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
            s AS (SELECT doc_id,
              CAST(len(list_filter(toks, x -> list_contains(
                ['the','and','of','fast','slow'], lower(x)))) AS BIGINT) AS f1,
              CAST(len(list_filter(toks, x -> list_contains(
                ['spark','shuffle','partition','executor','batch'],
                lower(x)))) AS BIGINT) AS f2,
              CAST(len(list_filter(toks, x -> list_contains(
                ['select','join','query','table','scan'],
                lower(x)))) AS BIGINT) AS f3
              FROM t),
            f AS (SELECT doc_id,
              CASE WHEN f1 >= f2 AND f1 >= f3 THEN 1e0 ELSE 0e0 END AS y,
              f1, f2, f3 FROM s)"""

  /** Char-class feature chain for the TRANSFER fit: label = token-level
    * stopword density ≥ 6.25% (an EXACT integer test — nstop·10⁴ ≥
    * 625·ntoks — so no float threshold anywhere), features = integer
    * floor-division micro-ratios over CHARACTER CLASSES only (space
    * density, mean word length, vowel density), centered by fixed
    * constants. Floor division (not ROUND) keeps every feature an exact
    * integer before one IEEE division by a power of ten, so Spark and
    * DuckDB agree bit-for-bit with zero round-half ambiguity. */
  private val charClassFeatureCtes: String =
    """t AS (SELECT doc_id, COALESCE(text, '') AS text,
              list_filter(string_split(COALESCE(text, ''), ' '),
                x -> x <> '') AS toks
              FROM documents),
            c AS (SELECT doc_id,
              CAST(GREATEST(length(text), 1) AS BIGINT) AS n,
              CAST(length(text) - length(regexp_replace(text, ' ', '', 'g'))
                AS BIGINT) AS spaces,
              CAST(length(text)
                   - length(regexp_replace(text, '[a-z]', '', 'g'))
                AS BIGINT) AS alphas,
              CAST(length(text)
                   - length(regexp_replace(text, '[aeiou]', '', 'g'))
                AS BIGINT) AS vowels,
              CAST(len(toks) AS BIGINT) AS ntoks,
              CAST(len(list_filter(toks, x -> list_contains(
                ['the','a','of','and','to','in','is'], lower(x))))
                AS BIGINT) AS nstop
              FROM t),
            f AS (SELECT doc_id,
              CASE WHEN nstop * 10000 >= 625 * GREATEST(ntoks, 1)
                   THEN 1e0 ELSE 0e0 END AS y,
              CAST((spaces * 1000000) // n - 178000 AS DOUBLE) / 1e4 AS f1,
              CAST((alphas * 1000000) // (spaces + 1) - 4500000 AS DOUBLE)
                / 1e5 AS f2,
              CAST((vowels * 1000000) // GREATEST(alphas, 1) - 347700
                AS DOUBLE) / 1e4 AS f3
              FROM c)"""

  /** The Spark twin of [[charClassFeatureCtes]]: one row per doc with the
    * exact-integer label `y_sw` and the three centered char-class
    * micro-ratio features (f1 space density, f2 mean word length, f3
    * vowel density). Integral `div` plus one division by a power of ten —
    * both exactly-rounded IEEE ops — make the frame bit-identical to the
    * oracle's. */
  def charClassFeatures(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
        coalesce(col(textCol), lit("")).as("__t"),
        TextOps.tokens(coalesce(col(textCol), lit(""))).as("__toks"))
      .select(col(idCol),
        greatest(length(col("__t")), lit(1)).cast("long").as("n"),
        (length(col("__t")) -
          length(regexp_replace(col("__t"), " ", "")))
          .cast("long").as("spaces"),
        (length(col("__t")) -
          length(regexp_replace(col("__t"), "[a-z]", "")))
          .cast("long").as("alphas"),
        (length(col("__t")) -
          length(regexp_replace(col("__t"), "[aeiou]", "")))
          .cast("long").as("vowels"),
        size(col("__toks")).cast("long").as("ntoks"),
        size(filter(col("__toks"), t => lower(t).isin(
          "the", "a", "of", "and", "to", "in", "is")))
          .cast("long").as("nstop"))
      .select(col(idCol),
        (col("nstop") * 10000L >= lit(625L) * greatest(col("ntoks"), lit(1L)))
          .as("y_sw"),
        ((expr("(spaces * 1000000) div n").cast("double") - lit(178000.0))
          / lit(1e4)).as("f1"),
        ((expr("(alphas * 1000000) div (spaces + 1)").cast("double")
          - lit(4500000.0)) / lit(1e5)).as("f2"),
        ((expr("(vowels * 1000000) div greatest(alphas, 1)").cast("double")
          - lit(347700.0)) / lit(1e4)).as("f3"))

  /** Weight quantization by FLOOR: JVM math.round is floor(x+0.5)
    * (half-toward-+inf on negatives) while DuckDB ROUND is half-away-
    * from-zero — a trained weight landing on an exact representable
    * half would diverge; floor is identical in both. */
  private def wMicro(x: Double): Long = math.floor(x * 1e6).toLong

  private def fitRow(r: Fit) =
    (r.n, r.pos, wMicro(r.weights(0)), wMicro(r.weights(1)),
      wMicro(r.weights(2)), wMicro(r.weights(3)), r.correct)

  private val fitCols = Seq("n", "n_pos", "w0_micro", "w1_micro",
    "w2_micro", "w3_micro", "n_correct")

  /** Distill lang_pred == 'en' from the three langid profile scores —
    * 20 GD steps at lr 1; the hash certifies the exact quantized weights
    * and counts. NOTE this fit is circular BY DESIGN: the label is the
    * argmax of the very scores it regresses on (separable by
    * construction), which makes it a certification of the GD machinery,
    * not of classifier quality — [[charClassFeatures]]' transfer fit
    * (q_t_quality_clf_transfer) is the one that demonstrates prediction
    * from an INDEPENDENT feature set. */
  private val tClf = Q(
    (s, d) => {
      val spark = s
      import spark.implicits._
      val scored = TextOps.langId(Tables.documents(s, d), "doc_id", "text")
      val r = fit(scored, Seq("s_en", "s_spark", "s_sql"),
        col("lang_pred") === "en", iters = 20, lr = 1.0)
      Seq(fitRow(r)).toDF(fitCols: _*)
    },
    Some(oracleSql(20, 1.0, langidFeatureCtes)))

  /** The TRANSFER fit: predict token-level stopword density ≥ 6.25% from
    * char-class features the label never sees (space/word-length/vowel
    * densities). Not separable by construction — the spec pins that the
    * fit still beats the majority class at every SF (measured ≈ +14 to
    * +17 points), and the hash certifies the exact per-iteration
    * quantized weights via the same DuckDB unroll. */
  private val tClfTransfer = Q(
    (s, d) => {
      val spark = s
      import spark.implicits._
      val feats = charClassFeatures(Tables.documents(s, d), "doc_id", "text")
      val r = fit(feats, Seq("f1", "f2", "f3"), col("y_sw"),
        iters = 20, lr = 1.0)
      Seq(fitRow(r)).toDF(fitCols: _*)
    },
    Some(oracleSql(20, 1.0, charClassFeatureCtes)))

  /** Reliability (calibration) table for a fitted classifier: rows
    * scored with the QUANTIZED micro weights, ranked into `bins`
    * equal-population score bins, and per bin the empirical positive
    * rate — the table a calibration curve / ECE audit reads. A quality
    * classifier that gates a corpus must be calibrated, not just
    * accurate: over-confident scores skew every downstream
    * quality-weighted mix.
    *
    * Scale shape: one map-side-combined `groupBy(score)` counts pass;
    * the bin assignment runs over DISTINCT scores through the two-pass
    * distributed prefix sum ([[graft.etl.GlobalIndex]] — no global
    * window funnel); per-bin aggregation is bins-sized. Ties share one
    * score value and land in ONE bin (value-level assignment).
    *
    * Cross-engine determinism: scores are computed from integer micro
    * weights with an identical expression tree (bit-identical doubles,
    * the GD-unroll guarantee), bin ids and positive rates are integer
    * arithmetic, and the bin score range is FLOORED from identical
    * doubles. */
  def calibrationTable(scored: DataFrame, yCol: String, zCol: String,
      bins: Int): DataFrame = {
    val cnt = scored.groupBy(col(zCol).as("z"))
      .agg(count(lit(1)).as("c"),
        sum(when(col(yCol) === 1.0, 1L).otherwise(0L)).as("p"))
    val cum = graft.etl.GlobalIndex.withGlobalCumsum(
      cnt, Seq(col("z")), col("c"), "cx")
    val tot = cnt.agg(sum("c").as("n"))
    cum.crossJoin(broadcast(tot))
      .withColumn("bin", expr(s"(cx * ${bins}L) div n"))
      .groupBy("bin")
      .agg(sum("c").as("n"), sum("p").as("n_pos"),
        min("z").as("zmin"), max("z").as("zmax"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("(n_pos * 1000000L) div n").as("pos_rate_micro"),
        floor(col("zmin")).cast("long").as("z_lo"),
        floor(col("zmax")).cast("long").as("z_hi"))
  }

  /** Calibration of the transfer fit (q_t_quality_clf_transfer's
    * weights) into 10 score deciles. */
  private val tCalibration = Q(
    (s, d) => {
      val feats = charClassFeatures(Tables.documents(s, d), "doc_id", "text")
      val r = fit(feats, Seq("f1", "f2", "f3"), col("y_sw"),
        iters = 20, lr = 1.0)
      val wm = r.weights.map(x => wMicro(x).toDouble)
      val scored = feats.select(col("y_sw").cast("double").as("y"),
        (lit(wm(0)) + lit(wm(1)) * col("f1") + lit(wm(2)) * col("f2") +
          lit(wm(3)) * col("f3")).as("z"))
      calibrationTable(scored, "y", "z", 10).orderBy("bin")
    },
    Some((s"""WITH ${weightCtes(20, 1.0, charClassFeatureCtes)},
            wq AS (SELECT CAST(FLOOR(w0 * 1e6) AS BIGINT) AS m0,
                CAST(FLOOR(w1 * 1e6) AS BIGINT) AS m1,
                CAST(FLOOR(w2 * 1e6) AS BIGINT) AS m2,
                CAST(FLOOR(w3 * 1e6) AS BIGINT) AS m3 FROM wt20),
            zt AS (SELECT f.y,
                (CAST(m0 AS DOUBLE) + m1 * f1 + m2 * f2 + m3 * f3) AS z
              FROM f CROSS JOIN wq),
            cntz AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS c,
                CAST(SUM(CASE WHEN y = 1e0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS p
              FROM zt GROUP BY 1),
            cumz AS (SELECT z, c, p,
                CAST(SUM(c) OVER (ORDER BY z
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - c AS cx
              FROM cntz),
            binz AS (SELECT (cx * 10) // n AS bin, c, p, z
              FROM cumz CROSS JOIN n0)
            SELECT bin, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(p) AS BIGINT) AS n_pos,
                   CAST(SUM(p) AS BIGINT) * 1000000
                     // CAST(SUM(c) AS BIGINT) AS pos_rate_micro,
                   CAST(floor(MIN(z)) AS BIGINT) AS z_lo,
                   CAST(floor(MAX(z)) AS BIGINT) AS z_hi
            FROM binz GROUP BY 1 ORDER BY bin""")
      .replace(" AS (", " AS MATERIALIZED (")))

  val queries: Map[String, Q] = Map(
    "q_t_quality_clf" -> tClf,
    "q_t_quality_clf_transfer" -> tClfTransfer,
    "q_t_calibration" -> tCalibration)
}
