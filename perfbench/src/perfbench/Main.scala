package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.pipeline.{SegmentationPipeline, WorkQueue}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run: start a session, generate the workload's inputs from
  * the seed, run items in a closed loop (one client; the next item starts
  * when the previous one has finished) until `--seconds` have passed,
  * check every output, and write `result.json` (and, traced, `trace.json`)
  * into `--work`. perfbench/run.py turns those files into metrics.
  *
  *   --workload survey_queue|corpus_curate --seed N --seconds S
  *   --trace 0|1 --work DIR
  *
  * Untraced runs time the library's own entry points. A traced run times
  * one traced item first, then one untraced item of the same input whose
  * digests the traced item must match. */
object Main {

  val Cores = 4
  val SurveyRespondents = 3000
  val CorpusDocs = 1500
  /** Lower bound on the ARI between the k-means labels and the planted
    * segments (observed 0.78–0.80 on these surveys). */
  val MinPlantedAri = 0.6

  final case class Item(kind: String, wallS: Double, rows: Long,
      digests: Map[String, String], stats: Map[String, Double],
      failures: Seq[String], window: (Double, Double))

  trait Workload {
    /** Write the inputs under `dir`; returns the input digest. */
    def generate(dir: String): String
    def item(scope: Lifecycle.Scope, dir: String, out: String): Item
    /** Part of set-up: run the lifecycle once on an input of another seed
      * under `dir`, so the measured items run in a warm JVM. */
    def warmUp(dir: String): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath.toString

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val w: Workload = workload match {
      case "survey_queue" => new SurveyQueue(spark, tracer, seed)
      case "corpus_curate" => new CorpusCurate(spark, tracer, seed)
      case other => sys.error(s"unknown workload $other")
    }

    val input = s"$work/input"
    val g0 = System.nanoTime()
    val inputDigest = w.generate(input)
    val genS = (System.nanoTime() - g0) / 1e9
    val w0 = System.nanoTime()
    w.warmUp(s"$work/warmup")
    spark.catalog.clearCache()
    val warmUpS = (System.nanoTime() - w0) / 1e9

    val items = mutable.ArrayBuffer[Item]()
    if (traced) {
      items += w.item(Lifecycle.tracedScope(tracer), input, s"$work/out_traced")
      spark.catalog.clearCache()
      items += w.item(Lifecycle.Untraced, input, s"$work/out_untraced")
    } else {
      val m0 = System.nanoTime()
      var i = 0
      while (i == 0 || (System.nanoTime() - m0) / 1e9 < seconds) {
        items += w.item(Lifecycle.Untraced, input, s"$work/out$i")
        spark.catalog.clearCache()
        i += 1
      }
    }

    System.err.println(f"[perfbench] session $sessionS%.2f s, generation $genS%.2f s, " +
      f"warm-up $warmUpS%.2f s, items " +
      items.map(i => f"${i.kind} ${i.wallS}%.2f").mkString(", ") +
      f" s, run so far ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val runFailures = mutable.ArrayBuffer[String]()
    // every item of one input must produce the same outputs
    for (key <- items.flatMap(_.digests.keys).distinct) {
      val ds = items.flatMap(_.digests.get(key)).distinct
      if (ds.size > 1) runFailures += s"digest $key differs across items: $ds"
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> Cores,
      "input_digest" -> inputDigest,
      "session_s" -> sessionS, "gen_s" -> genS, "warm_up_s" -> warmUpS,
      "peak_rss_mb" -> peakRssMb(),
      "run_failures" -> runFailures.toSeq,
      "items" -> items.toSeq.map(it => Map(
        "kind" -> it.kind, "wall_s" -> it.wallS, "rows" -> it.rows,
        "digests" -> it.digests, "stats" -> it.stats,
        "failures" -> it.failures,
        "window_ms" -> Seq(it.window._1, it.window._2))))
    if (traced)
      Files.write(Paths.get(work, "trace.json"), tracer.json().getBytes(UTF_8))
    Files.write(Paths.get(work, "result.json"), Json.render(result).getBytes(UTF_8))
    spark.stop()
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Time `body` on the tracer's clock (epoch ms). */
  private def timed[T](tracer: Tracer)(body: => T): (T, Double, (Double, Double)) = {
    val s = tracer.nowMs()
    val r = body
    val e = tracer.nowMs()
    (r, (e - s) / 1e3, (s, e))
  }

  // -- survey_queue ----------------------------------------------------------

  /** One panel-sized survey polled from a work queue, through the full
    * segmentation battery, the result sinks, and the queue update. The
    * Config keeps its defaults except the k grid, which is fixed at the
    * planted segment count (k = 3, still searched over both default
    * seeds): two k-means fits instead of six keep a cold item near 60 s,
    * which the run budget needs. The survey has no warm-up: a cold item of
    * 600 respondents took as long as the measured one, and the budget has
    * no room for both. */
  final class SurveyQueue(spark: SparkSession, clock: Tracer, seed: Long)
      extends Workload {
    private val title = s"qudo_fixture_uk_s$seed"
    private val pendingId = 1233L
    private var planted: Array[Int] = Array.empty
    private val config = SegmentationPipeline.Config(
      idCol = Gen.IdCol, clusterCols = Gen.ClusterCols,
      weightCol = Some("weight"), ks = 3 until 4, rulesCol = Some(Gen.RulesCol))

    def generate(dir: String): String = {
      val s = Gen.survey(seed, SurveyRespondents)
      planted = s.planted
      Gen.frame(spark, s.schema, s.rows).write.mode("overwrite")
        .parquet(s"$dir/surveys/$title")
      // the reference's queue document: two items this engine already
      // processed, the pending survey (processed only by another engine),
      // and a later item that must stay pending
      val queue = Seq(
        s"""{"id": 1231, "title": "qudo_fixture_uk_done", "processed_by": ["kraken", "graft"]}""",
        s"""{"id": 1232, "title": "qudo_fixture_uk_other", "processed_by": ["graft"]}""",
        s"""{"id": $pendingId, "title": "$title", "processed_by": ["kraken"]}""",
        s"""{"id": 1234, "title": "qudo_fixture_uk_next", "processed_by": []}""")
      Files.createDirectories(Paths.get(dir, "queue"))
      Files.write(Paths.get(dir, "queue", "collected_surveys.json"),
        queue.mkString("[", ",\n", "]").getBytes(UTF_8))
      s.digest
    }

    def item(scope: Lifecycle.Scope, dir: String, out: String): Item = {
      val (Lifecycle.SurveyOut(polled, results, balancedFrac), wall, window) =
        timed(clock) {
          Lifecycle.surveyItem(spark, scope, s"$dir/queue", s"$out/queue",
            s"$dir/surveys", out, config)
        }
      val failures = mutable.ArrayBuffer[String]()
      if (polled != title) failures += s"polled $polled, expected $title"
      val digests = mutable.LinkedHashMap[String, String]()
      val stats = mutable.LinkedHashMap[String, Double]()
      for ((algo, r) <- results.toSeq.sortBy(_._1)) {
        val base = s"$out/$polled/$algo"
        val labels = spark.read.parquet(s"$base/labels").collect()
          .map(row => row.getLong(0) -> row.get(1).toString).sortBy(_._1)
        if (labels.length != SurveyRespondents ||
            labels.map(_._1).distinct.length != SurveyRespondents)
          failures += s"$algo: ${labels.length} label rows for $SurveyRespondents respondents"
        val sunk = spark.read.json(s"$base/metrics").count()
        val csv = spark.read.option("header", true).csv(s"$base/metrics_csv").count()
        if (sunk != r.metrics.size || csv != r.metrics.size)
          failures += s"$algo: metrics sinks hold $sunk/$csv rows for ${r.metrics.size} metrics"
        val missing = Checks.missingMetricKeys(algo, r.metrics, labels.map(_._2).toSet)
        if (missing.nonEmpty) failures += s"$algo: missing metrics ${missing.mkString(",")}"
        val deliver = Checks.digestFrame(r.deliver)
        digests(s"$algo.deliver") = deliver
        digests(s"$algo.labels") = Checks.digestLines(labels.map(l => s"${l._1}:${l._2}"))
        digests(s"$algo.metrics") = Checks.digestMetrics(r.metrics)
        if (algo == "kmeans") {
          val ari = Checks.ari(planted.toSeq,
            labels.map(_._2.toInt).toSeq)
          stats("kmeans_planted_ari") = ari
          if (ari < MinPlantedAri)
            failures += f"kmeans: ARI $ari%.3f against planted segments < $MinPlantedAri"
        }
      }
      if (results.keySet != Set("kmeans", "kmodes", "rules_based", "lca"))
        failures += s"algorithms ${results.keys.mkString(",")}"
      if (!results.get("rules_based").exists(_.deliver.filter(col("yates")).count() > 0))
        failures += "rules_based: no Yates-corrected test"
      val queue = WorkQueue.readQueue(spark, s"$out/queue")
      val next = WorkQueue.nextSurvey(queue).map(_.id)
      val marked = queue.filter(col("id") === pendingId &&
        array_contains(col("processed_by"), WorkQueue.Processor)).count()
      if (next != Some(1234L) || marked != 1)
        failures += s"queue after item: next=$next, marked=$marked"
      balancedFrac.foreach(stats("balanced_frac") = _)
      Item(if (scope.traced) "traced" else "untraced", wall,
        SurveyRespondents.toLong, digests.toMap, stats.toMap, failures.toSeq, window)
    }
  }

  // -- corpus_curate -----------------------------------------------------------

  /** Curation of a documents-shaped corpus against a held-out evaluation
    * slice chosen by the seed. */
  final class CorpusCurate(spark: SparkSession, clock: Tracer, seed: Long)
      extends Workload {
    private var corpus: Gen.Corpus = _

    private def write(c: Gen.Corpus, dir: String): Unit =
      Gen.frame(spark, c.schema, c.rows).write.mode("overwrite")
        .parquet(s"$dir/documents")

    private def curate(scope: Lifecycle.Scope, dir: String, residue: Int) = {
      val docs = spark.read.parquet(s"$dir/documents")
      val slice = pmod(col("doc_id"), lit(29)) === residue
      Lifecycle.curateItem(scope, docs.filter(!slice), docs.filter(slice))
    }

    def generate(dir: String): String = {
      corpus = Gen.corpus(seed, CorpusDocs)
      write(corpus, dir)
      corpus.digest
    }

    /** One curation of a corpus of the same size and another seed, so the
      * measured items run warm, as in a JVM kept running between batches;
      * cold, an item took about twice as long. */
    override def warmUp(dir: String): Unit = {
      val other = Gen.corpus(seed + 1000003L, CorpusDocs)
      write(other, dir)
      curate(Lifecycle.Untraced, dir, other.evalResidue)
    }

    def item(scope: Lifecycle.Scope, dir: String, out: String): Item = {
      val (curated, wall, window) = timed(clock) {
        curate(scope, dir, corpus.evalResidue)
      }
      val rows = curated.rows
      val failures = mutable.ArrayBuffer[String]()
      val ids = rows.map(_.getLong(0))
      if (rows.isEmpty) failures += "no surviving documents"
      if (ids.distinct.length != ids.length) failures += "duplicate doc_id in output"
      if (ids.exists(id => Math.floorMod(id, 29L) == corpus.evalResidue))
        failures += "evaluation-slice document in output"
      if (ids.exists(id => id < 0 || id >= CorpusDocs)) failures += "unknown doc_id"
      if (rows.exists(r => r.getLong(1) <= 0 || r.getLong(2) < 1 ||
          r.getDouble(3) < 0 || r.getDouble(3) > 1))
        failures += "out-of-range n_chars_clean/cluster_size/stopword_ratio"
      val kept = ids.toSet
      val bothKept = corpus.exactCopies.count { case (a, b) =>
        kept.contains(a) && kept.contains(b) }
      if (bothKept > 0) failures += s"$bothKept planted exact copies both survived"
      val stats =
        if (curated.candidatePairs < 0) Map.empty[String, Double]
        else Map("confirm_frac" ->
          curated.confirmedPairs.toDouble / math.max(curated.candidatePairs, 1L))
      Item(if (scope.traced) "traced" else "untraced", wall,
        corpus.rows.count(r => Math.floorMod(r.getLong(0), 29L) != corpus.evalResidue).toLong,
        Map("output" -> Checks.digestRows(rows.toSeq)), stats, failures.toSeq, window)
    }
  }
}
