package perfbench

import graft.cluster.{FeaturePipeline, KMeansSearch, KModes, LatentClassEM, RulesBased}
import graft.dedup.{DedupOps, DupClusters}
import graft.etl.{Cleaning, DataMix}
import graft.inference.ChiSquaredInference
import graft.metrics.ModelMetrics
import graft.pipeline.{CorpusCuration, SegmentationPipeline, Sinks, WorkQueue}
import graft.pipeline.SegmentationPipeline.{Config, Result}
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The two lifecycles the workloads run, each in an untraced form (the
  * library's own entry points) and a traced form.
  *
  * The traced forms compose the same public calls, in the same order, as
  * `SegmentationPipeline.run` and `CorpusCuration.curateReleasable`, with
  * each call inside a span. Spark is lazy, so a traced call that returns an
  * unmaterialized frame is followed, inside its span, by a count of that
  * frame (persisted, or already cached by the library); otherwise its work
  * would be charged to whichever later span first runs an action. Those
  * counts are the traced run's extra work; the outputs are the same, which
  * the workloads check by digest. */
object Lifecycle {

  /** A span scope: the traced run's `Tracer.span`, or a plain call. */
  trait Scope {
    def apply[T](name: String)(body: => T): T
    def traced: Boolean
  }

  object Untraced extends Scope {
    def apply[T](name: String)(body: => T): T = body
    val traced = false
  }

  def tracedScope(t: Tracer): Scope = new Scope {
    def apply[T](name: String)(body: => T): T = t.span(name)(body)
    val traced = true
  }

  // -- survey ----------------------------------------------------------------

  /** The polled survey's title, its results, and (traced only) the share
    * of k-means grid candidates that passed the balance filter. */
  final case class SurveyOut(title: String, results: Map[String, Result],
      balancedFrac: Option[Double])

  /** One survey through the work queue: poll `queueIn`, run the
    * segmentation battery on the polled survey, write the result bundles
    * and metrics CSVs, mark the item processed and write the queue to
    * `queueOut`. */
  def surveyItem(spark: SparkSession, scope: Scope, queueIn: String,
      queueOut: String, surveyDir: String, outDir: String,
      config: Config): SurveyOut = {
    import spark.implicits._
    val (queue, item) = scope("pipeline.queue") {
      val q = WorkQueue.readQueue(spark, queueIn)
      (q, WorkQueue.nextSurvey(q).getOrElse(sys.error(s"queue $queueIn is empty")))
    }
    val raw = spark.read.parquet(s"$surveyDir/${item.title}")
    val (results, balancedFrac) =
      if (scope.traced) {
        val (r, f) = segmentationTraced(spark, scope, raw, config)
        (r, Some(f))
      } else (SegmentationPipeline.run(spark, raw, config), None)
    scope("pipeline.sink") {
      results.toSeq.sortBy(_._1).foreach { case (algo, r) =>
        Sinks.segmentationResult(r.labeled, config.idCol, r.metrics,
          s"$outDir/${item.title}/$algo")
        Sinks.metricsCsv(r.metrics.toSeq.toDF("metric", "value"),
          s"$outDir/${item.title}/$algo/metrics_csv")
      }
    }
    scope("pipeline.queue") {
      WorkQueue.writeQueue(WorkQueue.markProcessed(queue, item.id), queueOut)
    }
    SurveyOut(item.title, results, balancedFrac)
  }

  /** `SegmentationPipeline.run`, call for call, with one span per call;
    * also returns the balanced share of the k-means grid. */
  def segmentationTraced(spark: SparkSession, scope: Scope, raw: DataFrame,
      config: Config): (Map[String, Result], Double) = {
    val cleaned = scope("etl.clean") {
      val c = Cleaning.cleanResponses(raw).cache()
      // computed and left unused, as in run
      Cleaning.inferenceVariables(c, "cluster")
        .filterNot(config.clusterCols.contains)
      c.count()
      c
    }

    def infer(labeled: DataFrame): (DataFrame, Seq[String]) =
      scope("inference.deliver_stats") {
        val vars = Cleaning.inferenceVariables(labeled, "cluster")
          .filter(labeled.columns.contains(_)).filterNot(_ == "features")
        (ChiSquaredInference.deliverStats(spark, labeled, vars,
          "cluster", config.weightCol, config.alpha), vars)
      }

    def metrics(labeled: DataFrame, deliver: DataFrame, features: Option[String],
        vars: Seq[String], consistency: Option[(Double, Double)] = None,
        nSeed: Double = Double.NaN): Map[String, Double] =
      scope("metrics.segment") {
        SegmentationPipeline.segmentMetrics(labeled, deliver, features,
          testedVariables = vars, consistency = consistency, nSeed = nSeed)
      }

    val results = scala.collection.mutable.Map[String, Result]()

    val (prepared, _) = scope("cluster.prepare") {
      FeaturePipeline.prepare(cleaned, config.clusterCols)
    }
    val sel = scope("cluster.kmeans_search") {
      KMeansSearch.search(prepared, "features", config.ks, config.seeds)
    }
    val kmLabeled = sel.labeled
    val (kmDeliver, kmVars) = infer(kmLabeled
      .drop("features", "__scaled").drop(config.clusterCols.map(c => s"${c}_enc"): _*))
    val kmConsistency = scope("metrics.consistency") {
      (ModelMetrics.modelConsistency(kmLabeled, config.idCol, "features",
        sel.k, sel.seed),
        ModelMetrics.labelConsistency(kmLabeled, config.idCol, "features",
          sel.k, sel.seed))
    }
    results += "kmeans" -> Result("kmeans", kmLabeled, kmDeliver,
      metrics(kmLabeled, kmDeliver, Some("features"), kmVars,
        consistency = Some(kmConsistency), nSeed = sel.seed.toDouble) +
        ("chosen_k" -> sel.k.toDouble))

    val (kmModel, kmodesLabeled) = scope("cluster.kmodes") {
      KModes.fit(cleaned, config.clusterCols, k = config.ks.head)
    }
    val (kmodesDeliver, kmodesVars) = infer(kmodesLabeled)
    results += "kmodes" -> Result("kmodes", kmodesLabeled, kmodesDeliver,
      metrics(kmodesLabeled, kmodesDeliver, None, kmodesVars) +
        ("cost" -> kmModel.cost))

    config.rulesCol.foreach { rc =>
      val seg = scope("cluster.rules") { RulesBased.segment(cleaned, rc) }
      val (deliver, vars) = infer(seg.labeled)
      results += "rules_based" -> Result("rules_based", seg.labeled, deliver,
        metrics(seg.labeled, deliver, None, vars))
    }

    val (lcaModel, lcaLabeled) = scope("cluster.lca") {
      LatentClassEM.fit(cleaned, config.clusterCols, config.idCol,
        k = config.ks.head, maxIter = 10)
    }
    val (lcaDeliver, lcaVars) = infer(lcaLabeled)
    results += "lca" -> Result("lca", lcaLabeled, lcaDeliver,
      metrics(lcaLabeled, lcaDeliver, None, lcaVars) + ("bic" -> lcaModel.bic))

    (results.toMap,
      sel.candidates.count(_.balanced).toDouble / sel.candidates.size)
  }

  // -- corpus ----------------------------------------------------------------

  final case class Curated(rows: Array[Row], candidatePairs: Long,
      confirmedPairs: Long)

  /** Curate `docs` against the evaluation slice `bench`; returns the
    * surviving rows in doc_id order. */
  def curateItem(scope: Scope, docs: DataFrame, bench: DataFrame): Curated =
    if (scope.traced) curateTraced(scope, docs, bench)
    else {
      val (out, release) = CorpusCuration.curateReleasable(docs, "doc_id",
        "text", bench, "text")
      val rows = out.orderBy("doc_id").collect()
      release()
      Curated(rows, -1L, -1L)
    }

  /** `CorpusCuration.curateReleasable`, call for call, with one span per
    * stage; also counts candidate and confirmed near-duplicate pairs. */
  private def curateTraced(scope: Scope, docs: DataFrame,
      bench: DataFrame): Curated = {
    val (idCol, textCol) = ("doc_id", "text")
    def held(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
    val cleaned = scope("text.clean") {
      held(TextOps.cleanText(docs, idCol, textCol).select(col(idCol), col("clean")))
    }
    val surv = scope("dedup.exact") {
      val keepIds = DedupOps.exactDedup(cleaned, idCol, "clean")
        .select(col("keep").as(idCol))
      held(cleaned.join(keepIds, Seq(idCol)))
    }
    val pairs = scope("dedup.simhash_pairs") {
      held(DedupOps.simhashPairs(surv, idCol, "clean"))
    }
    val (verified, confirmed) = scope("dedup.edit_verify") {
      val v = held(DedupOps.editVerify(surv, pairs, idCol, "clean"))
      (v, v.filter(col("confirmed")).select("ida", "idb"))
    }
    val champions = scope("dedup.canonicalize") {
      held(DupClusters.canonicalize(surv, confirmed, idCol, "clean")
        .filter(col("is_canonical") === 1)
        .select(col("doc_id").as(idCol), col("cluster_size"))
        .join(surv, Seq(idCol)))
    }
    val cleanCorpus = scope("dedup.decontaminate") {
      val decon = DedupOps.decontaminate(champions, idCol, "clean", bench, textCol)
        .filter(!col("contaminated")).select(idCol)
      held(champions.join(decon, Seq(idCol)))
    }
    val quality = scope("text.quality") {
      held(TextOps.qualityFeatures(cleanCorpus, idCol, "clean")
        .select(col(idCol), col("stopword_ratio")))
    }
    val rows = scope("etl.sample") {
      DataMix.weightedSample(cleanCorpus.join(quality, Seq(idCol)),
          idCol, "stopword_ratio", 1.5)
        .select(col(idCol),
          length(col("clean")).cast("long").as("n_chars_clean"),
          col("cluster_size"), col("stopword_ratio"))
        .orderBy("doc_id").collect()
    }
    val candidates = pairs.count()
    val nConfirmed = confirmed.count()
    Seq(cleaned, surv, pairs, verified, champions, cleanCorpus, quality)
      .foreach(_.unpersist(blocking = false))
    Curated(rows, candidates, nConfirmed)
  }
}
