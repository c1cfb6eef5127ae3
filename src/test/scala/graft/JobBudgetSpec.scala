package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.cluster.{KModes, LatentClassEM}
import graft.metrics.ModelMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark job budgets of the categorical iterative fits on a survey-shaped
  * frame (3000 respondents, 8 four-level cluster questions, 6 target
  * answers). Job counts are deterministic where wall time is not, so a
  * fit that falls back to per-iteration jobs fails here without timing
  * noise. With the pattern-table gate open each fit is one pattern-count
  * collect: a shuffle-map job and a result job. */
class JobBudgetSpec extends SparkSpecBase {

  private val clusterCols = (1 to 8).map(i => s"q$i")
  private val tgtCols = (1 to 6).map(i => s"t${i}_tgt")

  private lazy val survey = {
    val rnd = new scala.util.Random(7)
    val levels = Seq("red", "green", "blue", "amber")
    val rows = (0 until 3000).map { i =>
      val seg = i % 3
      val qs = clusterCols.indices.map(j =>
        if (rnd.nextDouble() < 0.7) levels((seg + j) % 4) else levels(rnd.nextInt(4)))
      val ts = tgtCols.indices.map(j =>
        if (rnd.nextDouble() < 0.6) (seg % 2).toString else rnd.nextInt(3).toString)
      org.apache.spark.sql.Row.fromSeq(i.toLong +: (qs ++ ts))
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(StructField("id", LongType) +:
        (clusterCols ++ tgtCols).map(StructField(_, StringType)))).cache()
  }

  /** Jobs `body` submits, counted by a listener on the body's job group;
    * a sentinel job after the body guarantees every earlier job-start
    * event has been delivered. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    val seen = new AtomicInteger()
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => seen.incrementAndGet()
          case g if g == s"$group-end" => done.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job budget")
      body
      sc.setJobGroup(s"$group-end", "job budget sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, TimeUnit.SECONDS), "listener never saw the sentinel")
      seen.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("LCA, KModes and the chi2 slicer fit within their job budgets") {
    survey.count()
    val lca = jobsOf(LatentClassEM.fit(survey, clusterCols, "id", k = 3, maxIter = 10))
    val kmodes = jobsOf(KModes.fit(survey, clusterCols, k = 3))
    val slicer = jobsOf(ModelMetrics.chiSqSlicer(survey, tgtCols))
    info(s"jobs: LatentClassEM.fit $lca, KModes.fit $kmodes, chiSqSlicer $slicer")
    assert(lca <= 4, s"LatentClassEM.fit ran $lca jobs")
    assert(kmodes <= 4, s"KModes.fit ran $kmodes jobs")
    assert(slicer <= 4, s"chiSqSlicer ran $slicer jobs")
  }

  test("the pattern-table fits leave no cache behind") {
    survey.count()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    LatentClassEM.fit(survey, clusterCols, "id", k = 3, maxIter = 10)._2.count()
    KModes.fit(survey, clusterCols, k = 3)._2.count()
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted)
  }

  test("the distributed KModes and released LCA leave no cache behind") {
    survey.count()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    KModes.fitGated(survey, clusterCols, k = 3, maxIter = 3, maxPatterns = 0)._2.count()
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted)
    val (_, labeled, release) = LatentClassEM.fitOn(survey, None, clusterCols,
      "id", k = 3, maxIter = 2, seed = 42, smoothing = 0.01, numCols = Nil,
      initLow = 1.0)
    labeled.count()
    release()
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted)
  }
}
