package graft.metrics

import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.evaluation.{ClusteringEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.PatternTable

/** Model-level metrics (SURVEY.md M13, M16, M18/M19, M25, M26;
  * reference metrics.py). Each reduces distributed passes to small driver
  * aggregates; refits reuse MLlib estimators.
  */
object ModelMetrics {

  /** M13: silhouette via MLlib ClusteringEvaluator (squared-Euclidean;
    * documented approximation of sklearn's Euclidean default). */
  def silhouette(labeled: DataFrame, featuresCol: String,
      predictionCol: String = "cluster"): Double =
    new ClusteringEvaluator().setFeaturesCol(featuresCol)
      .setPredictionCol(predictionCol).setMetricName("silhouette")
      .evaluate(labeled)

  /** M16: random-baseline checker (metrics.py:149-174) — metric ratios of
    * the real clustering vs `nRuns` seeded random labelings of the same k. */
  def randomBaseline(labeled: DataFrame, featuresCol: String, k: Int,
      nRuns: Int = 3): Map[String, Double] = {
    val real = silhouette(labeled, featuresCol)
    val rand = (1 to nRuns).map { i =>
      val randomized = labeled.withColumn("cluster",
        pmod(hash(col(featuresCol).cast("string"), lit(i)), lit(k)).cast("int"))
      silhouette(randomized, featuresCol)
    }
    val randMean = rand.sum / rand.size
    Map("silhouette" -> real, "random_silhouette" -> randMean,
      "silhouette_ratio" -> (if (randMean == 0) 0.0 else real / randMean))
  }

  /** M18+M19: consistency check — deterministic 90/10 split by key-hash
    * (stable across runs, unlike randomSplit), ONE refit on the 90%, and the
    * ARI of the refit labels vs the original: over every row (M18, model
    * consistency) and over the training rows only (M19, label consistency —
    * the reference's StratifiedShuffleSplit train-side comparison,
    * metrics.py:234-308). Both ARIs come from one contingency pass. */
  def consistency(df: DataFrame, idCol: String, featuresCol: String,
      k: Int, seed: Long): (Double, Double) = {
    val withBucket = df.withColumn("__b", pmod(hash(col(idCol)), lit(10)))
    val cells = new org.apache.spark.ml.clustering.KMeans().setK(k).setSeed(seed)
      .setFeaturesCol(featuresCol).setPredictionCol("cluster2")
      .fit(withBucket.filter(col("__b") =!= 0))
      .transform(withBucket.drop("cluster2"))
      .groupBy(col("cluster").cast("string").as("a"),
        col("cluster2").cast("string").as("b"), (col("__b") =!= 0).as("train"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
    (ClusterQuality.adjustedRandOf(cells.groupMapReduce(c => (c._1, c._2))(_._4)(_ + _)
        .map { case ((a, b), n) => (a, b, n) }.toSeq),
      ClusterQuality.adjustedRandOf(cells.filter(_._3).map(c => (c._1, c._2, c._4)).toSeq))
  }

  /** M18 alone: [[consistency]]'s model ARI. */
  def modelConsistency(df: DataFrame, idCol: String, featuresCol: String,
      k: Int, seed: Long): Double = consistency(df, idCol, featuresCol, k, seed)._1

  /** M19 alone: [[consistency]]'s label ARI. */
  def labelConsistency(df: DataFrame, idCol: String, featuresCol: String,
      k: Int, seed: Long): Double = consistency(df, idCol, featuresCol, k, seed)._2

  /** M18+M19 at the exact-replay parameterization ([[graft.cluster.KMeansLloyd]]
    * on integer units, mod-10 id split instead of the Murmur3 hash bucket —
    * SQL-expressible on both engines): full-data fit vs 90%-refit, ARI over
    * all rows (M18) and over the train rows only (M19). Every count in the
    * contingency is exact and the ARI closed form's intermediate sums are
    * exact integers in double, so the DuckDB replay
    * ([[graft.cluster.LloydOracleSql.consistency]]) is deterministic. The
    * MLlib KMeans + hash-bucket variants above remain the general API. */
  def consistencyLloyd(df: DataFrame, idCol: String, zCol: String,
      init: Seq[Long], maxIter: Int = 2): (Double, Double) = {
    import graft.cluster.KMeansLloyd
    val base = df.select(col(idCol).cast("long").as("id"), col(zCol).as("z"))
    val full = KMeansLloyd.fit(base, "z", init, maxIter)
    val refit = KMeansLloyd.fit(base.filter(col("id") % 10 =!= 0), "z", init, maxIter)
    val joined = full.labeled.select(col("id"), col("cluster").as("a"))
      .join(KMeansLloyd.assign(base, "z", refit.centers)
        .select(col("id"), col("cluster").as("b")), "id")
    def ari(pairs: DataFrame): Double = {
      val cont = pairs.groupBy("a", "b").agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      val as = cont.map(_._1).distinct.sorted
      val bs = cont.map(_._2).distinct.sorted
      val m = Array.ofDim[Long](as.length, bs.length)
      cont.foreach { case (a, b, n) =>
        m(as.indexOf(a))(bs.indexOf(b)) = n }
      graft.stats.ContingencyMath.adjustedRandIndex(m)
    }
    (ari(joined), ari(joined.filter(col("id") % 10 =!= 0)))
  }

  /** M25: RandomForest signal loss — train RF to predict the cluster from
    * feature columns; report accuracy/F1/weighted precision/recall
    * (metrics.py:714-811). `sampler` selects the reference's resampling
    * battery member applied to the TRAIN split:
    * none / under (stratified sampleBy) / over (with-replacement) /
    * smote (kNN-interpolated synthesis, [[smote]]). */
  def rfSignal(labeled: DataFrame, featuresCol: String,
      labelCol: String = "cluster", seed: Long = 42L,
      sampler: String = "none"): Map[String, Double] = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val data = labeled.withColumn("label", col(labelCol).cast("double"))
    val Array(train0, test) = data.randomSplit(Array(0.8, 0.2), seed)
    val train = sampler match {
      case "none" => train0
      case "under" => undersample(train0, "label", seed)
      case "over" => oversample(train0, "label", seed)
      case "smote" =>
        // content-derived id: deterministic under any partitioning (an
        // exact-duplicate row collapses onto the same id, which only drops
        // self-pairs the kNN excludes anyway)
        val arr = train0
          .withColumn("__arr", vector_to_array(col(featuresCol)))
          .withColumn("__id",
            xxhash64(concat_ws(",", col("__arr").cast("array<string>"))))
        smote(arr, "__id", "label", "__arr", seed = seed)
          .withColumn(featuresCol, array_to_vector(col("__arr")))
          .select(col(featuresCol), col("label"))
      case other => throw new IllegalArgumentException(
        s"sampler must be one of none/under/over/smote, got '$other'")
    }
    val rf = new RandomForestClassifier().setFeaturesCol(featuresCol)
      .setLabelCol("label").setNumTrees(50).setSeed(seed).fit(train)
    val pred = rf.transform(test)
    def m(name: String) = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction").setMetricName(name)
      .evaluate(pred)
    // Cohen's κ and the majority-class baseline from the exact confusion
    // contingency (one groupBy; only the k×k matrix reaches the driver) —
    // the sanity bounds a signal-loss report is judged against: a useful
    // classifier must beat predicting the test split's modal class, and
    // κ = (p_o − p_e)/(1 − p_e) is bounded in [−1, 1] by construction.
    val cm = pred.groupBy(col("label").cast("long").as("l"),
        col("prediction").cast("long").as("p"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val n = cm.values.sum.toDouble
    val classes = (cm.keys.map(_._1) ++ cm.keys.map(_._2)).toSeq.distinct
    val rowSums = classes.map(l => l -> cm.collect { case ((`l`, _), v) => v }.sum).toMap
    val colSums = classes.map(l => l -> cm.collect { case ((_, `l`), v) => v }.sum).toMap
    val po = classes.map(l => cm.getOrElse((l, l), 0L)).sum / n
    val pe = classes.map(l => rowSums(l) * colSums(l).toDouble).sum / (n * n)
    val kappa = if (pe >= 1.0) 1.0 else (po - pe) / (1 - pe)
    val majority = rowSums.values.max / n
    Map("accuracy" -> m("accuracy"), "f1" -> m("f1"),
      "precision" -> m("weightedPrecision"), "recall" -> m("weightedRecall"),
      "kappa" -> kappa, "majority_baseline" -> majority, "n_test" -> n)
  }

  /** Weighted multiclass classification metrics from the exact confusion
    * contingency — accuracy, support-weighted precision / recall / F1, the
    * same definitions the reference reports from its RF evaluation
    * (metrics.py:714-811) and MulticlassClassificationEvaluator implements
    * (pinned against it in ModelMetricsSpec). Works on ANY (label,
    * prediction) pair — in particular a frozen deterministic prediction
    * column, which makes the metric arithmetic DuckDB-oracle-checkable even
    * when the classifier producing the predictions isn't (q_m25_metrics).
    *
    * Scale: ONE groupBy on (label, pred) — only the k×k matrix reaches the
    * driver, never rows. */
  def classificationMetrics(pred: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val spark = pred.sparkSession
    val cm = pred.groupBy(col(labelCol).cast("long").as("l"),
        col(predCol).cast("long").as("p"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    require(cm.nonEmpty, "classificationMetrics on an empty frame")
    val n = cm.values.sum.toDouble
    val labels = cm.keys.map(_._1).toSeq.distinct.sorted
    val tpSum = labels.map(l => cm.getOrElse((l, l), 0L)).sum
    var f1w = 0.0
    var pw = 0.0
    var rw = 0.0
    labels.foreach { l =>
      val ln = cm.collect { case ((`l`, _), v) => v }.sum.toDouble
      val pn = cm.collect { case ((_, `l`), v) => v }.sum.toDouble
      val tp = cm.getOrElse((l, l), 0L).toDouble
      val prec = if (pn > 0) tp / pn else 0.0
      val rec = if (ln > 0) tp / ln else 0.0
      val f1 = if (prec + rec > 0) 2 * prec * rec / (prec + rec) else 0.0
      f1w += ln / n * f1
      pw += ln / n * prec
      rw += ln / n * rec
    }
    import spark.implicits._
    Seq((n.toLong, tpSum / n, f1w, pw, rw))
      .toDF("n_test", "accuracy", "f1", "precision_w", "recall_w")
  }

  /** Winner-count sampler selection (metrics.py:792-809): run the full
    * battery, count per-metric wins, return the sampler winning the most
    * metrics (ties resolved by battery order, the reference's iteration
    * order) together with every sampler's metric map. */
  def selectSampler(labeled: DataFrame, featuresCol: String,
      labelCol: String = "cluster", seed: Long = 42L)
      : (String, Map[String, Map[String, Double]]) = {
    val samplers = Seq("none", "under", "over", "smote")
    val metricNames = Seq("accuracy", "f1", "precision", "recall")
    val results = samplers.map(s =>
      s -> rfSignal(labeled, featuresCol, labelCol, seed, sampler = s)).toMap
    val wins = samplers.map { s =>
      s -> metricNames.count { mn =>
        results(s)(mn) >= samplers.map(results(_)(mn)).max - 1e-12
      }
    }.toMap
    val winner = samplers.maxBy(s => (wins(s), -samplers.indexOf(s)))
    (winner, results)
  }

  /** SMOTE (metrics.py:714-811): balance every minority class up to the
    * majority size with synthetic points x + u·(nn − x), u ∈ [0,1), nn one
    * of the point's k nearest same-class neighbors.
    *
    * Scale design: kNN candidates come from an equi-join on a per-class
    * KMeans list id (the IVF trick — at 100 TB the quantizer trains on a
    * sample and the list id is the shuffle key); neighbor choice and u are
    * hash-derived from (id, replica, seed) — no RNG state, reproducible
    * under any partitioning. The exact-count trim of the final replica uses
    * the distributed [[graft.etl.GlobalIndex]] (range repartition +
    * broadcast offsets) — no single-partition exchange anywhere.
    *
    * `vecCol` must be array<double>; returns (idCol, labelCol, vecCol) for
    * original AND synthetic rows (synthetic ids are negative). */
  def smote(df: DataFrame, idCol: String, labelCol: String, vecCol: String,
      k: Int = 5, seed: Long = 42L, nList: Int = 8): DataFrame = {
    import graft.functions.EuclideanDistance.euclideanDist
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).cast("long").as("id"),
      col(labelCol).as("lbl"), col(vecCol).cast("array<double>").as("v"))
    val counts = base.groupBy("lbl").count().collect()
      .map(r => r.get(0) -> r.getLong(1))
    val maxN = counts.map(_._2).max
    val synthFrames = counts.filter(_._2 < maxN).map { case (cls, n) =>
      val need = maxN - n
      val reps = math.ceil(need.toDouble / n).toInt
      val part = base.filter(col("lbl") === lit(cls)).select("id", "v")
      val lists = math.max(1, math.min(nList, (n / math.max(2, k + 1)).toInt))
      val assigned =
        if (lists <= 1) part.withColumn("list", lit(0))
        else {
          val w = part.withColumn("fv", array_to_vector(col("v")))
          val km = new org.apache.spark.ml.clustering.KMeans().setK(lists)
            .setSeed(seed).setFeaturesCol("fv").setPredictionCol("list").fit(w)
          km.transform(w).drop("fv")
        }
      val a = assigned.toDF("ida", "va", "list")
      val b = assigned.toDF("idb", "vb", "list")
      val wRank = Window.partitionBy("ida").orderBy(col("d"), col("idb"))
      val knn = a.join(b, Seq("list")).filter(col("ida") =!= col("idb"))
        .withColumn("d", euclideanDist(col("va"), col("vb")))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= k)
        .withColumn("nn", count(lit(1)).over(Window.partitionBy("ida")))
      val chosen = knn
        .withColumn("rep", explode(array((0 until reps).map(lit(_)): _*)))
        .filter(col("rank") ===
          pmod(hash(col("ida"), lit(seed), col("rep")), col("nn")) + 1)
        .withColumn("u",
          pmod(hash(col("ida"), lit(seed), col("rep"), lit(17)), lit(1000000))
            .cast("double") / 1000000.0)
        .withColumn("sv",
          zip_with(col("va"), col("vb"), (x, y) => x + col("u") * (y - x)))
      val lastNeed = need - (reps - 1).toLong * n
      // exact-count trim of the final replica via the distributed global
      // index (range repartition + broadcast offsets) — same row selection
      // as a global row_number over ida, without its single-partition
      // exchange (the last replica can be an entire minority class). The
      // trimmed slice (≤ lastNeed rows, bounded by the class size) is
      // materialized eagerly so the index's internal range cache can be
      // released immediately instead of leaking per class — releasing an
      // unmaterialized index would resample the range boundaries.
      val (indexed, release) = graft.etl.GlobalIndex.withGlobalIndexReleasable(
        chosen.filter(col("rep") === reps - 1), Seq(col("ida")), "__rn")
      val lastSlice = indexed.filter(col("__rn") <= lastNeed).drop("__rn")
        .localCheckpoint(true)
      release()
      val trimmed = chosen.filter(col("rep") < reps - 1).unionByName(lastSlice)
      trimmed.select(
        (col("ida") * lit(-1000003L) - col("rep") - 1).as("id"),
        lit(cls).as("lbl"), col("sv").as("v"))
    }
    synthFrames.foldLeft(base)(_ unionByName _)
      .select(col("id").as(idCol), col("lbl").as(labelCol), col("v").as(vecCol))
  }

  /** Stratified under-sampling to the minority class size via sampleBy
    * (the reference's under-sampler). */
  def undersample(df: DataFrame, labelCol: String, seed: Long = 42L): DataFrame = {
    val counts = df.groupBy(labelCol).count().collect()
      .map(r => r.get(0) -> r.getLong(1))
    val minN = counts.map(_._2).min.toDouble
    val fractions = counts.map { case (k, n) => k -> math.min(1.0, minN / n) }.toMap
    df.stat.sampleBy(labelCol, fractions, seed)
  }

  def oversample(df: DataFrame, labelCol: String, seed: Long = 42L): DataFrame = {
    val counts = df.groupBy(labelCol).count().collect()
      .map(r => r.get(0) -> r.getLong(1))
    val maxN = counts.map(_._2).max.toDouble
    counts.map { case (k, n) =>
      val part = df.filter(col(labelCol) === lit(k))
      if (n >= maxN) part
      else part.sample(withReplacement = true, maxN / n, seed)
    }.reduce(_ unionByName _)
  }

  /** M26: χ²-signal slicer (metrics.py:407-514) — iteratively keep filtering
    * rows by (variable == its current mode) while retention stays above a
    * decaying floor; returns the surviving filters and final retention. A
    * null answer never matches a filter, so it is never a mode.
    *
    * Every step reads the rows only through their patterns over
    * `variables`, so the slicer collects ONE pattern table through
    * [[graft.PatternTable]]'s measured-size gate and runs the greedy loop on
    * the driver over (pattern, count) — integer counts, so the result
    * equals the distributed loop's exactly. Past the gate, each iteration
    * is one distributed tall aggregation. */
  def chiSqSlicer(df: DataFrame, variables: Seq[String],
      startFloor: Double = 0.25, floorDecay: Double = 0.01,
      minVars: Int = 6): (Seq[(String, String)], Double) =
    chiSqSlicerGated(df, variables, startFloor, floorDecay, minVars,
      PatternTable.DefaultMaxPatterns)

  /** [[chiSqSlicer]] with an explicit pattern-table gate (specs force it
    * shut to pin the fast path against the distributed loop). */
  private[graft] def chiSqSlicerGated(df: DataFrame, variables: Seq[String],
      startFloor: Double, floorDecay: Double, minVars: Int,
      maxPatterns: Int): (Seq[(String, String)], Double) =
    PatternTable.collect(df, variables, maxPatterns) match {
      case Some(t) =>
        var current: Seq[Int] = t.patterns.indices // the surviving patterns
        greedySlice(variables, startFloor, floorDecay, minVars, t.n.toDouble,
          remaining => remaining.flatMap { v =>
            val j = variables.indexOf(v)
            val counts = current.groupMapReduce(t.patterns(_)(j))(t.counts(_))(_ + _)
              .filter(_._1 != null)
            if (counts.isEmpty) None else Some(v -> PatternTable.mode(counts))
          }.toMap,
          (v, mode) => {
            val j = variables.indexOf(v)
            current = current.filter(t.patterns(_)(j) == mode)
          },
          () => current.map(t.counts(_)).sum)
      case None =>
        var current = df
        greedySlice(variables, startFloor, floorDecay, minVars, df.count().toDouble,
          // ONE tall agg per iteration: it yields every remaining variable's
          // mode AND the mode's row count (= rows kept by that candidate
          // filter), so the iteration is a single Spark job regardless of
          // |variables|
          remaining => current
            .select(remaining.map(c => col(c).cast("string").as(c)): _*)
            .unpivot(Array.empty[org.apache.spark.sql.Column],
              remaining.map(col).toArray, "var", "value")
            .filter(col("value").isNotNull)
            .groupBy("var", "value").agg(count(lit(1)).as("n")).collect()
            .groupBy(_.getString(0)).map { case (v, rs) =>
              v -> PatternTable.mode(rs.map(r => (r.getString(1), r.getLong(2))))
            },
          (v, mode) => current = current.filter(col(v).cast("string") === mode),
          () => current.count())
    }

  /** The slicer's greedy loop over an abstract row set: `modes(vars)` maps
    * each variable with a non-null answer among the current rows to its
    * (mode, rows with it), `narrow(v, mode)` keeps only the rows answering
    * `mode` to `v`, and `rows()` counts the current rows. */
  private def greedySlice(variables: Seq[String], startFloor: Double,
      floorDecay: Double, minVars: Int, total: Double,
      modes: Seq[String] => Map[String, (String, Long)],
      narrow: (String, String) => Unit,
      rows: () => Long): (Seq[(String, String)], Double) = {
    var kept = Seq.empty[(String, String)]
    var floor = startFloor
    var remaining = variables
    var continue = true
    while (continue && remaining.nonEmpty) {
      val m = modes(remaining)
      // the candidate keeping the most rows (greedy, deterministic tie-break)
      val scored = remaining.flatMap(v => m.get(v).map { case (mode, n) =>
        (v, mode, n) }).sortBy(t => (-t._3, t._1))
      scored.headOption match {
        case Some((v, mode, n)) if n / total >= floor || kept.size < minVars =>
          narrow(v, mode)
          kept :+= (v -> mode)
          remaining = remaining.filterNot(_ == v)
          floor = math.max(0.15, floor - floorDecay)
          continue = n > 0
        case _ => continue = false
      }
    }
    (kept, rows() / total)
  }

  /** M31: social presence — share of rows per cluster whose multi-choice
    * platform column mentions `platform` (metrics.py:364-404). */
  def socialPresence(df: DataFrame, clusterCol: String, mcCol: String,
      platform: String): DataFrame =
    df.groupBy(col(clusterCol).as("cluster"))
      .agg(round(avg(when(lower(col(mcCol)).contains(platform.toLowerCase), 1.0)
        .otherwise(0.0)), 6).as("presence"))

  /** M32: message reach = presence × signal per cluster (metrics.py:690-711). */
  def messageReach(presence: Map[String, Double], signal: Map[String, Double])
      : Map[String, Double] =
    presence.map { case (c, p) => c -> p * signal.getOrElse(c, 0.0) }
}
