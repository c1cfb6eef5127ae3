package graft.cluster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.PatternTable

/** KModes — categorical k-clustering with mode centroids and Hamming
  * dissimilarity (SURVEY.md M5; reference uses the `kmodes` library with Cao
  * init, clustering.py:349-363, 513-539). No MLlib equivalent — custom
  * Lloyd-style iteration:
  *
  *  - init: Cao-style density init — the greedy centroid pick runs on the
  *    top distinct patterns by count (bounded, deterministic).
  *  - assign: Hamming distance to each centroid, argmin with ties to the
  *    lowest centroid index.
  *  - update: per-(cluster, column) modes.
  *
  * Every stage reads a row only through its answer pattern, so the fit
  * collects ONE `groupBy(cols).count()` pattern table through
  * [[graft.PatternTable]]'s measured-size gate and runs init, every Lloyd
  * pass and the cost on the driver over (pattern, count) — integer count
  * arithmetic, so the result equals the distributed loop's exactly. Past
  * the gate, each iteration is one distributed aggregation over the
  * assigned input, cached for the fit and released before it returns (a
  * map-side-combinable groupBy — the classic scalable KModes shape). On
  * both paths the labeled frame is the lazy [[assign]] column expression
  * over the uncached input, so a fit leaves no cache behind.
  */
object KModes {

  final case class KModesModel(cols: Seq[String], centroids: Array[Array[String]],
      cost: Double, iterations: Int) {
    def k: Int = centroids.length
  }

  /** Hamming distance of a row to one centroid as a Column. */
  private def hamming(cols: Seq[String], centroid: Array[String]): Column =
    cols.zip(centroid).map { case (c, v) =>
      when(col(c) <=> lit(v), 0).otherwise(1)
    }.reduce(_ + _)

  /** Assignment: cluster = argmin over centroids of Hamming distance. */
  def assign(df: DataFrame, cols: Seq[String],
      centroids: Array[Array[String]]): DataFrame = {
    val dists = array(centroids.map(c => hamming(cols, c)): _*)
    df.withColumn("__d", dists)
      .withColumn("cluster",
        (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int"))
      .withColumn("__mind", array_min(col("__d")))
  }

  /** The patterns Cao init picks from: the most frequent ones. */
  private val TopPatterns = 256

  /** Cao-style deterministic init: density(pattern) = count · Σ_j freq_j(x_j);
    * greedy pick maximizing density × min-distance-to-chosen, over the top
    * `topPatterns` patterns by (count desc, values asc). */
  private[cluster] def caoInit(df: DataFrame, cols: Seq[String], k: Int,
      topPatterns: Int = TopPatterns): Array[Array[String]] = {
    val patterns = df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc +: cols.map(col): _*)
      .limit(topPatterns).collect()
    caoPick(patterns.map(r => (cols.indices.map(i =>
      Option(r.get(i)).map(_.toString).orNull).toArray, r.getLong(cols.size))), k)
  }

  /** [[caoInit]]'s greedy pick over its top patterns, in their order. */
  private def caoPick(rows: Array[(Array[String], Long)], k: Int)
      : Array[Array[String]] = {
    val n = rows.map(_._2).sum.toDouble
    val freq: Map[(Int, String), Double] = rows.flatMap { case (vals, cnt) =>
      vals.zipWithIndex.map { case (v, i) => (i, v) -> cnt.toDouble }
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum / n).toMap
    def density(vals: Array[String], cnt: Long): Double =
      cnt * vals.zipWithIndex.map { case (v, i) => freq.getOrElse((i, v), 0.0) }.sum
    val chosen = scala.collection.mutable.ArrayBuffer[Array[String]]()
    val first = rows.maxBy { case (v, c) => (density(v, c), v.mkString("\u0000")) }
    chosen += first._1
    while (chosen.size < k && chosen.size < rows.length) {
      val next = rows
        .filter { case (v, _) => !chosen.exists(c => dist(c, v) == 0) }
        .maxBy { case (v, c) =>
          (chosen.map(dist(_, v)).min * density(v, c), v.mkString("\u0000")) }
      chosen += next._1
    }
    chosen.toArray
  }

  /** Hamming distance of two patterns (null-safe, like [[assign]]'s `<=>`). */
  private def dist(a: Array[String], b: Array[String]): Int =
    a.zip(b).count { case (x, y) => x != y }

  /** Per-(cluster, column) modes from (cluster, column index) → value
    * counts (ties → smallest value, deterministic); an empty cluster keeps
    * its previous centroid. */
  private def modes(counts: collection.Map[(Int, Int), Iterable[(String, Long)]],
      previous: Array[Array[String]]): Array[Array[String]] =
    Array.tabulate(previous.length) { c =>
      Array.tabulate(previous(c).length) { j =>
        counts.get((c, j)).map(PatternTable.mode(_)._1).getOrElse(previous(c)(j))
      }
    }

  /** Lloyd passes until the centroids stop changing or `maxIter`. */
  private def lloyd(init: Array[Array[String]], maxIter: Int)(
      update: Array[Array[String]] => Array[Array[String]])
      : (Array[Array[String]], Int) = {
    var centroids = init
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      val next = update(centroids)
      changed = !next.zip(centroids).forall { case (a, b) => a.sameElements(b) }
      centroids = next
      iter += 1
    }
    (centroids, iter)
  }

  /** Full fit. Deterministic given data + parameters (no RNG anywhere). */
  def fit(df: DataFrame, cols: Seq[String], k: Int, maxIter: Int = 10)
      : (KModesModel, DataFrame) =
    fitGated(df, cols, k, maxIter, PatternTable.DefaultMaxPatterns)

  /** [[fit]] with an explicit pattern-table gate (specs force it shut to
    * pin the fast path against the distributed loop). */
  private[graft] def fitGated(df: DataFrame, cols: Seq[String], k: Int,
      maxIter: Int, maxPatterns: Int): (KModesModel, DataFrame) = {
    val data = df.select(cols.map(c => col(c).cast("string").as(c)) ++
      df.columns.filterNot(cols.contains).map(col): _*)
    val model = PatternTable.collect(data, cols, maxPatterns) match {
      case Some(t) => fitPatterns(t, cols, k, maxIter)
      case None =>
        val cached = data.cache()
        try fitDistributed(cached, cols, k, maxIter)
        finally cached.unpersist(blocking = false)
    }
    (model, assign(data, cols, model.centroids).drop("__d", "__mind"))
  }

  /** The fit over a pattern table: every stage of [[fitDistributed]], with
    * the pattern counts as row weights. */
  private def fitPatterns(t: PatternTable, cols: Seq[String], k: Int,
      maxIter: Int): KModesModel = {
    val top = t.patterns.zip(t.counts).sortBy { case (p, n) =>
      (n, p.toSeq.map(Option(_))) }(Ordering.Tuple2(Ordering.Long.reverse,
        Ordering.Implicits.seqOrdering[Seq, Option[String]](
          Ordering.Option(graft.Utf8Order)))).take(TopPatterns)
    // (nearest centroid, its distance) per pattern; ties → lowest index
    def nearest(cs: Array[Array[String]]): Array[(Int, Int)] =
      t.patterns.map { p =>
        val d = cs.map(dist(_, p))
        val m = d.min
        (d.indexOf(m), m)
      }
    val (centroids, iter) = lloyd(caoPick(top, k), maxIter) { cs =>
      val near = nearest(cs)
      // ((cluster, column), value) → rows, then per (cluster, column)
      modes(t.patterns.indices.flatMap(i => cols.indices.map(j =>
          ((near(i)._1, j), t.patterns(i)(j)) -> t.counts(i)))
        .groupMapReduce(_._1)(_._2)(_ + _)
        .groupMap(_._1._1) { case ((_, v), n) => (v, n) }, cs)
    }
    val cost = nearest(centroids).zip(t.counts).map { case ((_, d), n) => d * n }.sum
    KModesModel(cols, centroids, cost.toDouble, iter)
  }

  /** The distributed Lloyd loop over the cached string-cast frame — the
    * over-gate path and the parity reference. */
  private def fitDistributed(data: DataFrame, cols: Seq[String], k: Int,
      maxIter: Int): KModesModel = {
    val (centroids, iter) = lloyd(caoInit(data, cols, k), maxIter) { cs =>
      // per-(cluster, column) value counts in ONE tall aggregation
      val tall = assign(data, cols, cs)
        .select(col("cluster") +: cols.map(col): _*)
        .unpivot(Array(col("cluster")), cols.map(col).toArray, "var", "value")
        .groupBy("cluster", "var", "value").agg(count(lit(1)).as("n"))
        .collect()
      modes(tall.groupBy(r => (r.getInt(0), cols.indexOf(r.getString(1))))
        .view.mapValues(_.map(r => (r.getString(2), r.getLong(3))).toSeq).toMap, cs)
    }
    val cost = assign(data, cols, centroids).agg(sum("__mind")).head().getLong(0)
    KModesModel(cols, centroids, cost.toDouble, iter)
  }
}
