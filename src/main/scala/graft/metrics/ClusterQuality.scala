package graft.metrics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Internal clustering-quality indices over a (vector column, label column)
  * frame (SURVEY.md §2.8 M13-M15, M17; reference metrics.py:59-90).
  *
  * Scale design: every index reduces the data in ONE distributed pass to
  * per-(label, dimension) moment aggregates (count, Σx, Σx²) — k·dim rows —
  * then finishes with tiny driver-side matrix math. Nothing point-wise is
  * ever collected; Davies-Bouldin's per-point distances are a second
  * distributed pass against broadcast centroids.
  */
object ClusterQuality {

  /** (label, dim) → (n, Σx, Σx²) moment table, the shared reduction. */
  private def moments(df: DataFrame, vecCol: String, labelCol: String): DataFrame =
    df.select(col(labelCol).cast("string").as("label"),
        posexplode(col(vecCol)).as(Seq("i", "x")))
      .withColumn("x", col("x").cast("double"))
      .groupBy("label", "i")
      .agg(count(lit(1)).as("nl"), sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"))

  private final case class Moment(label: String, i: Int, n: Long, sx: Double, sxx: Double)

  private def collectMoments(df: DataFrame, vecCol: String, labelCol: String): Seq[Moment] =
    moments(df, vecCol, labelCol).collect().toSeq
      .map(r => Moment(r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))

  /** Calinski-Harabasz index (M15): (B/(k−1)) / (W/(n−k)) with
    * B = Σ_l n_l·‖μ_l − μ‖², W = Σ_l Σ_d (Σx² − n_l·μ_ld²). */
  def calinskiHarabasz(df: DataFrame, vecCol: String, labelCol: String): Double = {
    val ms = collectMoments(df, vecCol, labelCol)
    val labels = ms.map(_.label).distinct.sorted
    val dims = ms.map(_.i).distinct.sorted
    val k = labels.size
    val n = ms.filter(_.i == dims.head).map(_.n).sum
    if (k <= 1 || n <= k) return 0.0
    val byKey = ms.map(m => (m.label, m.i) -> m).toMap
    var w = 0.0
    var b = 0.0
    dims.foreach { d =>
      val col = labels.map(byKey(_, d))
      val globalMean = col.map(_.sx).sum / n
      col.foreach { m =>
        val mean = m.sx / m.n
        w += m.sxx - m.n * mean * mean
        b += m.n * (mean - globalMean) * (mean - globalMean)
      }
    }
    (b / (k - 1)) / (w / (n - k))
  }

  /** Davies-Bouldin index (M14): centroids from the moment pass, mean
    * point-to-centroid Euclidean distance via a second distributed pass
    * against the broadcast centroid table, O(k²) finish on the driver.
    * Degenerate clusterings return 999 like the reference (metrics.py:86-90). */
  def daviesBouldin(df: DataFrame, vecCol: String, labelCol: String): Double = {
    val ms = collectMoments(df, vecCol, labelCol)
    val labels = ms.map(_.label).distinct.sorted
    val dims = ms.map(_.i).distinct.sorted
    val k = labels.size
    if (k <= 1) return 999.0
    val centroid: Map[(String, Int), Double] =
      ms.map(m => (m.label, m.i) -> m.sx / m.n).toMap

    val spark = df.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      centroid.toSeq.map { case ((l, i), mu) => (l, i, mu) }.toDF("label", "i", "mu"))

    // pid must be assigned BEFORE the explode — one id per point, not per
    // (point, dimension) row (it only scopes the per-point distance groupBy;
    // its actual values never reach the result).
    val tall = df.withColumn("pid", monotonically_increasing_id())
      .select(col(labelCol).cast("string").as("label"), col("pid"),
        posexplode(col(vecCol)).as(Seq("i", "x")))
      .withColumn("x", col("x").cast("double"))
    val s = tall.join(centDf, Seq("label", "i"))
      .groupBy("label", "pid")
      .agg(sqrt(sum(pow(col("x") - col("mu"), 2))).as("dist"))
      .groupBy("label").agg(avg("dist").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    def centDist(a: String, bl: String): Double =
      math.sqrt(dims.map(d => {
        val diff = centroid(a, d) - centroid(bl, d); diff * diff
      }).sum)

    val rs = labels.map { l =>
      labels.filter(_ != l).map(j => (s(l) + s(j)) / centDist(l, j)).max
    }
    rs.sum / k
  }

  /** Exact silhouette score (M13, sklearn Euclidean semantics;
    * metrics.py:74-84): a(i) = mean distance to own cluster (n_l − 1
    * denominator), b(i) = min over other clusters of the mean distance,
    * s(i) = (b − a)/max(a, b); singleton clusters score 0.
    *
    * Scale note: exact silhouette is quadratic BY DEFINITION (all pairwise
    * Euclidean distances — no moment shortcut exists for unsquared
    * distances), so callers sample or block first, as the reference's
    * survey-scale usage implies; the linear-time alternative is MLlib's
    * squared-Euclidean ClusteringEvaluator used in KMeansSearch. The pair
    * join computes each distance with the codegen'd allocation-free
    * [[graft.functions.EuclideanDistance]] loop (the composed
    * zip_with/aggregate form allocates a zipped array per pair — measured
    * 53 s vs 6 s on the sf0.1 pairwise scan).
    *
    * `maxExactRows` guards the quadratic path: above it the call routes to
    * the linear [[silhouetteSquaredEuclid]] closed form (squared-Euclidean
    * semantics — MLlib's ClusteringEvaluator definition) instead of
    * materializing an n² pair join. The default keeps exact sklearn parity
    * for survey-scale inputs and makes 100 TB calls structurally safe.
    * Because the fallback is a DIFFERENT metric definition, callers whose
    * consumers pin the exact Euclidean semantics (the m13 oracle) pass
    * `maxExactRows = Long.MaxValue`: the sentinel skips the guard's count()
    * pass entirely and always takes the exact path. Callers in fit loops
    * that already know the cardinality pass `rowCount` to skip the count()
    * action too. */
  def silhouette(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, maxExactRows: Long = 100000L,
      rowCount: Option[Long] = None): Double = {
    import graft.functions.EuclideanDistance.euclideanDist
    if (maxExactRows != Long.MaxValue &&
        rowCount.getOrElse(df.count()) > maxExactRows)
      return silhouetteSquaredEuclid(df, vecCol, labelCol)
    val v = df.select(col(idCol).as("id"),
      col(labelCol).cast("string").as("label"),
      col(vecCol).cast("array<double>").as("v"))
    val b = v.select(col("id").as("idb"), col("label").as("labelb"),
      col("v").as("vb"))
    val pd = v.join(b, col("id") =!= col("idb"))
      .select(col("id"), col("label"), col("labelb"),
        euclideanDist(col("v"), col("vb")).as("d"))
    val perCluster = pd.groupBy("id", "label", "labelb").agg(avg("d").as("md"))
    val scores = perCluster.groupBy("id", "label").agg(
      max(when(col("labelb") === col("label"), col("md"))).as("a"),
      min(when(col("labelb") =!= col("label"), col("md"))).as("b"))
      .withColumn("s", when(col("a").isNull, lit(0.0))
        .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
    scores.agg(avg("s")).head().getDouble(0)
  }

  /** Squared-Euclidean silhouette in ONE linear pass — the closed form
    * MLlib's ClusteringEvaluator uses (and sklearn approximates only
    * quadratically): with per-cluster stats N_c, Y_c = Σ x_j,
    * Ψ_c = Σ ‖x_j‖², the mean squared distance from point x to cluster c is
    * (N_c·‖x‖² + Ψ_c − 2·x·Y_c)/N_c; own-cluster a(i) removes self via the
    * N/(N−1) factor; singletons score 0.
    *
    * Unlike the exact Euclidean [[silhouette]] (quadratic by definition),
    * this is the 100 TB path: one moment aggregation + one map-only pass
    * with the k cluster stats inlined as literals. Every step is plain
    * arithmetic on exact aggregates, so the whole computation is
    * SQL-replicable (q_m16's oracle replays it). */
  def silhouetteSquaredEuclid(df: DataFrame, vecCol: String,
      labelCol: String): Double = {
    val ms = collectMoments(df, vecCol, labelCol)
    val labels = ms.map(_.label).distinct.sorted
    if (labels.size <= 1) return 0.0
    val dims = ms.map(_.i).distinct.sorted
    val byKey = ms.map(m => (m.label, m.i) -> m).toMap
    val nC = labels.map(l => l -> byKey(l, dims.head).n).toMap
    val fsC = labels.map(l => l -> dims.map(d => byKey(l, d).sx).toArray).toMap
    val ssC = labels.map(l => l -> dims.map(d => byKey(l, d).sxx).sum).toMap

    val v = df.select(col(labelCol).cast("string").as("label"),
      col(vecCol).cast("array<double>").as("v"))
    val sqNorm = aggregate(transform(col("v"), x => x * x),
      lit(0.0), (a, x) => a + x)
    val withSq = v.withColumn("__sq", sqNorm)
    val withD = withSq.select(
      col("label") +: labels.map { l =>
        val dot = aggregate(zip_with(col("v"), lit(fsC(l)), (a, b) => a * b),
          lit(0.0), (a, x) => a + x)
        ((col("__sq") * nC(l) + ssC(l) - lit(2.0) * dot) / nC(l)).as(s"__d_$l")
      }: _*)
    val aCol = labels.foldLeft(lit(Double.NaN)) { (acc, l) =>
      when(col("label") === l,
        if (nC(l) == 1) lit(Double.NaN)
        else col(s"__d_$l") * (nC(l).toDouble / (nC(l) - 1))).otherwise(acc)
    }
    val bCol = labels.map(l =>
      when(col("label") === l, lit(Double.MaxValue)).otherwise(col(s"__d_$l")))
      .reduce(least(_, _))
    withD.withColumn("__a", aCol).withColumn("__b", bCol)
      .select(when(isnan(col("__a")), lit(0.0))
        .otherwise((col("__b") - col("__a")) /
          greatest(col("__a"), col("__b"))).as("s"))
      .agg(avg("s")).head().getDouble(0)
  }

  /** Gower distance pairs (M35, low-priority per SURVEY §2.8): mixed-type
    * row dissimilarity = mean of per-feature terms — numerics |x−y|/range,
    * categoricals 0/1 mismatch. Ranges come from one aggregate; pairs from a
    * (blockable) self-join. Survey-scale operator — the full pair matrix is
    * quadratic by definition, so callers block or sample first. */
  def gowerPairs(df: DataFrame, idCol: String, numCols: Seq[String],
      catCols: Seq[String]): DataFrame = {
    val rangeRow = if (numCols.isEmpty) null
      else df.agg(
        numCols.map(c => (max(col(c)) - min(col(c))).as(c)).head,
        numCols.map(c => (max(col(c)) - min(col(c))).as(c)).tail: _*).head()
    val ranges = numCols.zipWithIndex.map { case (c, i) =>
      c -> math.max(rangeRow.getDouble(i), 1e-12)
    }.toMap
    val cols = col(idCol).as("id") +:
      (numCols.map(c => col(c).cast("double").as(c)) ++ catCols.map(col))
    val a = df.select(cols: _*)
    val b = a.columns.foldLeft(a)((d, c) => d.withColumnRenamed(c, s"${c}__b"))
    val nFeat = (numCols.size + catCols.size).toDouble
    val terms =
      numCols.map(c => abs(col(c) - col(s"${c}__b")) / lit(ranges(c))) ++
      catCols.map(c => when(col(c) <=> col(s"${c}__b"), 0.0).otherwise(1.0))
    a.join(b, col("id") < col("id__b"))
      .withColumn("gower", terms.reduce(_ + _) / lit(nFeat))
      .select(col("id").as("ida"), col("id__b").as("idb"), col("gower"))
  }

  /** Adjusted Rand index (M17) between two label columns: distributed
    * contingency groupBy, closed-form pair counting on the driver. */
  def adjustedRand(df: DataFrame, labelA: String, labelB: String): Double =
    adjustedRandOf(df.groupBy(col(labelA).cast("string").as("a"),
        col(labelB).cast("string").as("b"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq)

  /** ARI from the contingency cells (label a, label b, rows). */
  private[metrics] def adjustedRandOf(cont: Seq[(String, String, Long)]): Double = {
    val as = cont.map(_._1).distinct.sorted
    val bs = cont.map(_._2).distinct.sorted
    val m = Array.ofDim[Long](as.length, bs.length)
    val ai = as.zipWithIndex.toMap
    val bi = bs.zipWithIndex.toMap
    cont.foreach { case (a, b, n) => m(ai(a))(bi(b)) = n }
    graft.stats.ContingencyMath.adjustedRandIndex(m)
  }
}
