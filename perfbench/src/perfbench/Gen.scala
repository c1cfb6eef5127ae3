package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything is drawn on the Spark driver from one
  * `SplittableRandom` per input, so the same seed gives the same rows, and
  * the digest is taken over the rows as generated (before any parquet
  * round trip). Planted labels stay here; the program only sees the
  * parquet files written from `rows`. */
object Gen {

  final case class Survey(schema: StructType, rows: Array[Row],
      planted: Array[Int], digest: String)

  final case class Corpus(schema: StructType, rows: Array[Row],
      evalResidue: Int, exactCopies: Seq[(Long, Long)], digest: String)

  val IdCol = "alchemer_id"
  val RulesCol = "tech_ww_techcomfort_rb_ord"
  val ClusterCols: Seq[String] = (1 to 8).map(i => f"att_uk_brand_${1100 + i}%d_q$i%02d")

  /** Generic question columns (FIXTURES.md §1 "25+ more categorical
    * question cols"): name, categories, planted-segment signal strength. */
  private val Questions: Seq[(String, Seq[String], Double)] = (1 to 16).map { i =>
    val cats = Seq("yes", "no", "sometimes", "often", "never", "unsure")
      .take(3 + i % 4)
    (f"q_uk_habits_${2000 + i}%d_q$i%02d", cats, if (i % 3 == 0) 0.35 else 0.0)
  }

  private val Agree = Seq("strongly agree", "agree", "neutral", "disagree",
    "strongly disagree")

  val SurveySchema: StructType = StructType(
    Seq(StructField(IdCol, LongType, nullable = false),
      StructField("cint_id", StringType),
      StructField("weight", DoubleType),
      StructField("qudo_weight_post", DoubleType),
      StructField("qudo_gender_segmentation", StringType),
      StructField(RulesCol, StringType)) ++
    ClusterCols.map(StructField(_, StringType)) ++
    Seq(StructField("sbeh_uk_socialmedia_mc_1234_fb", StringType),
      StructField("life_uk_interests_gg_2345", StringType),
      StructField("psy_uk_outlook_3456_tgt", StringType),
      StructField("ae_uk_creative_4567_tgt", StringType),
      StructField("demo_uk_age_numeric", DoubleType),
      StructField("q_time_page1", DoubleType),
      StructField("q_uk_rare_9999", StringType)) ++
    (1 to 3).map(i => StructField(s"sbeh_uk_apps_mc_5678_$i", StringType)) ++
    Questions.map(q => StructField(q._1, StringType)))

  /** One survey of `n` respondents with three planted segments: about 3% NA
    * per question column, a `_time` column, the `_fb`/`_gg`/`_tgt`/`psy_`
    * families, a weight column, and `q_uk_rare_9999` whose "rare" answer is
    * given by exactly three respondents, so some crosstab cell is ≤ 5 and
    * the Yates branch runs. */
  def survey(seed: Long, n: Int): Survey = {
    val rnd = new SplittableRandom(seed).split()
    val rareRows = Set(n / 7, n / 2, n - 3)
    val planted = new Array[Int](n)
    def na(v: String): String = if (rnd.nextDouble() < 0.03) null else v
    def pick(cats: Seq[String]): String = cats(rnd.nextInt(cats.length))
    // segment z answers its home category with probability `p`
    def planted3(cats: Seq[String], z: Int, shift: Int, p: Double): String =
      if (rnd.nextDouble() < p) cats((z + shift) % cats.length) else pick(cats)
    val rows = Array.tabulate(n) { i =>
      val u = rnd.nextDouble()
      val z = if (u < 0.4) 0 else if (u < 0.75) 1 else 2
      planted(i) = z
      val fixed = Seq[Any](
        100000L + i,
        f"c${seed % 1000}%03d-${rnd.nextInt(1 << 30)}%09d",
        0.5 + rnd.nextDouble() * 1.5,
        rnd.nextDouble(),
        pick(Seq("male", "female", "other")),
        Seq("low", "mid", "high")(if (rnd.nextDouble() < 0.85) z else rnd.nextInt(3)))
      val cluster = ClusterCols.indices.map { j =>
        na(planted3(Seq("red", "green", "blue", "amber"), z, j, 0.7))
      }
      val families = Seq[Any](
        na(planted3(Seq("facebook", "instagram", "none"), z, 0, 0.5)),
        na(planted3(Seq("1", "0"), z, 0, 0.4)),
        na(planted3(Agree, z * 2, 0, 0.5)),
        na(planted3(Seq("painting", "music", "none"), z, 1, 0.4)),
        if (rnd.nextDouble() < 0.03) null else (18 + rnd.nextInt(60) + 5 * z).toDouble,
        rnd.nextDouble() * 300,
        if (rareRows.contains(i)) "rare" else na(pick(Seq("yes", "no"))))
      val multi = (0 until 3).map { m =>
        if (rnd.nextDouble() < 0.3 + 0.2 * ((z + m) % 3)) "selected" else null
      }
      val questions = Questions.map { case (_, cats, signal) =>
        if (rnd.nextDouble() < 0.05) "Not shown"
        else na(planted3(cats, z, 0, signal))
      }
      Row.fromSeq(fixed ++ cluster ++ families ++ multi ++ questions)
    }
    Survey(SurveySchema, rows, planted, digestRows(rows))
  }

  private val Vocab: IndexedSeq[String] = ("batch part spark line column order " +
    "small sort fast value scan a hash slow group agg filter big key window " +
    "row table stream merge data the customer query join vector of and to in " +
    "is").split(" ").toIndexedSeq

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** A `documents`-shaped corpus (the sf0.1 table's shape: bag-of-words
    * texts of 8–96 words over a small vocabulary, 5 languages, 20 sources)
    * with planted duplicates: 4% exact copies (case and spacing variants)
    * and 8% near copies (one or two words changed), so exact dedup, SimHash
    * candidates and edit-distance arbitration all have work. `exactCopies`
    * lists the planted (source, copy) id pairs. The held-out
    * evaluation slice is every doc with `doc_id % 29 == evalResidue`, and
    * the residue is chosen by the seed. */
  def corpus(seed: Long, n: Int): Corpus = {
    val rnd = new SplittableRandom(~seed).split()
    val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")
    val texts = new Array[String](n)
    val copies = Seq.newBuilder[(Long, Long)]
    // copy positions are fixed, so every seed plants the same numbers
    val rows = Array.tabulate(n) { i =>
      val text =
        if (i > 10 && i % 25 == 0) {
          val src = rnd.nextInt(i)
          copies += ((src.toLong, i.toLong))
          if (rnd.nextBoolean()) texts(src).toUpperCase else texts(src).replace(" ", "  ")
        } else if (i > 10 && (i % 25 == 12 || i % 25 == 13)) {
          val words = texts(rnd.nextInt(i)).split(" ")
          (0 until 1 + rnd.nextInt(2)).foreach { _ =>
            words(rnd.nextInt(words.length)) = Vocab(rnd.nextInt(Vocab.length))
          }
          words.mkString(" ")
        } else Seq.fill(8 + rnd.nextInt(89))(Vocab(rnd.nextInt(Vocab.length)))
          .mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(rnd.nextInt(langs.length)),
        s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    Corpus(CorpusSchema, rows, Math.floorMod(seed, 29L).toInt, copies.result(),
      digestRows(rows))
  }

  def frame(spark: SparkSession, schema: StructType, rows: Array[Row],
      slices: Int = 4): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, slices), schema)

  /** sha256 over the rows' string form, in order. */
  def digestRows(rows: Array[Row]): String =
    Checks.digestLines(rows.toSeq.map(_.mkString("\u0001")))
}
