package graft

import graft.cluster.{KModes, LatentClassEM}
import graft.metrics.ModelMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The pattern-table fast paths (categorical LCA, KModes, the χ² slicer)
  * against their distributed loops, gate open vs gate forced shut. KModes
  * and the slicer are integer-count arithmetic and must match exactly; the
  * LCA EM differs only in summation order, so its labels must match and
  * logLik/BIC agree to 1e-9 relative. */
class PatternTableSpec extends SparkSpecBase {
  import spark.implicits._

  private val cols = Seq("qa", "qb", "qc")

  /** Three planted segments over qa/qb, an uninformative qc. */
  private def planted(n: Int): Seq[(Long, String, String, String)] =
    (0 until n).map { i =>
      val seg = i * 3 / n
      (i.toLong, if (i % 17 == 0) "x" else s"a$seg",
        if (i % 7 == 0) "y" else s"b$seg", s"c${i % 2}")
    }

  private lazy val cases: Seq[(String, DataFrame)] = Seq(
    "null answers" -> planted(300).map { case (i, a, b, c) =>
      (i, if (i % 11 == 0) null else a, if (i % 13 == 5) null else b, c)
    }.toDF("id", "qa", "qb", "qc"),
    "all-null row" -> (planted(300) :+ ((300L, null, null, null)))
      .toDF("id", "qa", "qb", "qc"),
    "numeric and boolean columns" -> planted(300).map { case (i, a, b, _) =>
      (i, a.hashCode % 5, b.startsWith("b1"), (i % 2) * 0.5)
    }.toDF("id", "qa", "qb", "qc"),
    "duplicate-heavy" -> (0 until 2000).map { i =>
      val p = (i * 7919) % 6
      (i.toLong, s"a${p % 3}", s"b${p % 2}", if (p == 5) "c1" else "c0")
    }.toDF("id", "qa", "qb", "qc"))

  private def rows(df: DataFrame) =
    df.orderBy(df.columns.head).collect().map(_.toSeq).toSeq

  private def assertKModesParity(df: DataFrame, cs: Seq[String], k: Int,
      maxIter: Int): Unit = {
    val (open, openLabeled) = KModes.fitGated(df, cs, k, maxIter,
      PatternTable.DefaultMaxPatterns)
    val (shut, shutLabeled) = KModes.fitGated(df, cs, k, maxIter, maxPatterns = 0)
    assert(open.centroids.map(_.toSeq).toSeq === shut.centroids.map(_.toSeq).toSeq)
    assert(open.cost === shut.cost)
    assert(open.iterations === shut.iterations)
    assert(openLabeled.columns.toSeq === shutLabeled.columns.toSeq)
    assert(rows(openLabeled) === rows(shutLabeled))
  }

  private def assertLcaParity(df: DataFrame, cs: Seq[String], idCol: String,
      k: Int, maxIter: Int): Set[Long] = {
    val (open, openLabeled, _) = LatentClassEM.fitReleasable(df, cs, idCol, k,
      maxIter)
    val table = LatentClassEM.patternTable(df, cs, Nil, maxPatterns = 0)
    assert(table.isEmpty, "a zero-pattern gate must take the distributed EM")
    val (shut, shutLabeled, release) = LatentClassEM.fitOn(df, table, cs, idCol,
      k, maxIter, seed = 42, smoothing = 0.01, numCols = Nil, initLow = 1.0)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.abs(b)
    assert(close(open.logLik, shut.logLik), s"logLik ${open.logLik} vs ${shut.logLik}")
    assert(close(open.bic, shut.bic), s"bic ${open.bic} vs ${shut.bic}")
    assert(open.nParams === shut.nParams && open.n === shut.n)
    assert(openLabeled.columns.toSeq === shutLabeled.columns.toSeq)
    assert(rows(openLabeled) === rows(shutLabeled))
    val ids = openLabeled.select(col(idCol)).as[Long].collect().toSet
    release()
    ids
  }

  private def assertSlicerParity(df: DataFrame, vars: Seq[String],
      minVars: Int): Unit =
    assert(ModelMetrics.chiSqSlicer(df, vars, minVars = minVars) ===
      ModelMetrics.chiSqSlicerGated(df, vars, 0.25, 0.01, minVars,
        maxPatterns = 0))

  test("KModes: pattern table == distributed loop (nulls, types, duplicates)") {
    cases.foreach { case (name, df) =>
      withClue(name) { assertKModesParity(df, cols, k = 3, maxIter = 10) }
    }
  }

  test("LCA: pattern table == distributed EM (nulls, types, duplicates)") {
    cases.foreach { case (name, df) =>
      withClue(name) {
        val ids = assertLcaParity(df, cols, "id", k = 3, maxIter = 15)
        // an all-null row has no likelihood term: both paths drop it
        if (name == "all-null row") assert(!ids.contains(300L) && ids.size === 300)
      }
    }
  }

  test("chi2 slicer: pattern table == distributed loop (nulls, types, duplicates)") {
    cases.foreach { case (name, df) =>
      withClue(name) {
        assertSlicerParity(df, cols, minVars = 1)
        assertSlicerParity(df, cols, minVars = 6)
      }
    }
  }

  private lazy val customerCats = Tables.customer(spark, sf).select(
    col("c_custkey"), col("c_mktsegment"),
    concat(lit("n"), pmod(col("c_nationkey"), lit(5))).as("nat_bucket"),
    when(col("c_acctbal") >= 0, "pos").otherwise("neg").as("bal_sign"))
  private val customerCols = Seq("c_mktsegment", "nat_bucket", "bal_sign")

  test("registry parameterizations: q_m5 KModes, q_m10 LCA, q_m26 slicer") {
    assertKModesParity(customerCats, customerCols, k = 4, maxIter = 2)
    assertLcaParity(customerCats, customerCols, "c_custkey", k = 3, maxIter = 2)
    val o = Tables.orders(spark, sf).select(
      col("o_orderpriority"), col("o_orderstatus"),
      when(col("o_totalprice") > 100000, "big").otherwise("small").as("size_bucket"))
    assertSlicerParity(o, Seq("o_orderpriority", "o_orderstatus", "size_bucket"),
      minVars = 2)
  }

  test("DriverGate: every row under the bounds, None past rows or bytes") {
    val df = spark.range(0, 1000, 1, 4).select(col("id"),
      concat(lit("v"), col("id").cast("string")).as("s"))
    val all = DriverGate.collect(df, maxRows = 1000)
    assert(all.map(_.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq) ===
      Some(df.collect().map(_.toSeq).toSeq))
    assert(DriverGate.collect(df, maxRows = 999).isEmpty)
    assert(DriverGate.collect(df, maxRows = 1000, maxBytes = 1000).isEmpty)
    assert(DriverGate.collect(df.limit(0), maxRows = 0).exists(_.isEmpty))
  }

  test("DriverGate: the driver receives at most maxRows + 1 rows in total") {
    // 200 partitions of 50 rows: each under the row bound, together 10x over
    val df = spark.range(0, 10000, 1, 200).select(col("id"),
      concat(lit("v"), col("id").cast("string")).as("s"))
    val sc = spark.sparkContext
    val group = s"gate-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val resultBytes = new java.util.concurrent.atomic.AtomicLong()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.scheduler._
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => e.stageIds.foreach(stages.add)
          case g if g == s"$group-end" => done.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskType == "ResultTask" &&
            e.taskMetrics != null) resultBytes.addAndGet(e.taskMetrics.resultSize)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "gate")
      assert(DriverGate.collect(df, maxRows = 1000).isEmpty)
      // a sentinel job: its start is delivered after every earlier event
      sc.setJobGroup(s"$group-end", "gate sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // 1001 rows of ~32 UnsafeRow bytes plus serialization overhead; every
    // partition shipping its 50 rows would be 10000 rows
    info(s"result bytes ${resultBytes.get}")
    assert(resultBytes.get > 0 && resultBytes.get < 100000,
      s"result tasks shipped ${resultBytes.get} bytes to the driver")
  }
}
