package perfbench

import java.math.{MathContext, RoundingMode}

import org.apache.spark.sql.{DataFrame, Row}

/** Output digests and correctness checks. Digests round doubles to 8
  * significant digits, so a change in floating-point summation order does
  * not move them while any real change in an output value does. */
object Checks {

  def fmt(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(new MathContext(8, RoundingMode.HALF_EVEN))
        .stripTrailingZeros().toString
    case f: Float => fmt(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case other => other.toString
  }

  def digestLines(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }

  /** Order-independent digest of a collected frame: rows are formatted and
    * sorted before hashing. */
  def digestRows(rows: Seq[Row]): String =
    digestLines(rows.map(r => r.toSeq.map(fmt).mkString("|")).sorted)

  def digestFrame(df: DataFrame): String = digestRows(df.collect().toSeq)

  def digestMetrics(m: Map[String, Double]): String =
    digestLines(m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${fmt(v)}" })

  /** Adjusted Rand index of two labelings of the same items. */
  def ari(a: Seq[Int], b: Seq[Int]): Double = {
    require(a.length == b.length && a.nonEmpty)
    def c2(x: Long): Double = x * (x - 1) / 2.0
    val joint = a.zip(b).groupBy(identity).values.map(v => c2(v.length)).sum
    val ra = a.groupBy(identity).values.map(v => c2(v.length)).sum
    val rb = b.groupBy(identity).values.map(v => c2(v.length)).sum
    val expected = ra * rb / c2(a.length)
    val max = (ra + rb) / 2
    if (max == expected) 1.0 else (joint - expected) / (max - expected)
  }

  /** The get_all_metrics key family every segmentation result carries:
    * the scalar fields, one `cluster_proportion_<c>` per cluster, and the
    * algorithm's own extra field. */
  val ScalarMetricKeys: Seq[String] = Seq(
    "n_seed", "n_clusters", "min_share", "max_share", "n_significant",
    "avg_significant_per_cluster", "model_consistency", "label_consistency",
    "uniqueness", "communicability_average", "significant_variables",
    "significant_tgt_variables", "spread_of_significant_variables",
    "spread_of_significant_tgt_variables", "magnitude", "variability",
    "silhouette", "davies_bouldin", "calinski_harabasz",
    "silhouette_random_ratio", "davies_bouldin_random_ratio",
    "calinski_harabasz_random_ratio", "fb_presence", "ml_signal",
    "chi2_signal", "message_reach_ml_signal", "massage_reach_chi2_signal",
    "chi2_signal_core_columns", "message_reach_optimal_signal",
    "core_columns", "percent_retained_for_core_cols")

  val AlgorithmKeys: Map[String, String] = Map("kmeans" -> "chosen_k",
    "kmodes" -> "cost", "lca" -> "bic")

  def missingMetricKeys(algo: String, metrics: Map[String, Double],
      clusters: Set[String]): Seq[String] =
    (ScalarMetricKeys ++ AlgorithmKeys.get(algo) ++
      clusters.toSeq.sorted.map(c => s"cluster_proportion_$c"))
      .filterNot(metrics.contains)
}
