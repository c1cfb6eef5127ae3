package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions.{col, count, lit}

/** Measured-size gate for driver-side fast paths: a fit whose iterations
  * read only a small aggregate (a value-counts or pattern table) collects
  * that aggregate once and iterates on the driver — but only when the
  * aggregate MEASURES under both a row bound and a byte bound. Otherwise
  * the caller runs its distributed loop; the decision is never a guess
  * about data shape.
  *
  * One result job over `df.limit(maxRows + 1)`: the global limit gathers
  * at most `maxRows + 1` rows into a single partition, and that one task
  * stops reading once it is past `maxBytes`, so the driver receives at
  * most `maxRows + 1` rows and about `maxBytes` however many partitions
  * `df` has. Bytes are UnsafeRow sizes, the form the rows travel in. */
object DriverGate {

  /** Default byte bound of a gated collect (64 MiB of row payload). */
  val DefaultMaxBytes: Long = 64L << 20

  /** `df`'s rows when there are at most `maxRows` of them totalling at most
    * `maxBytes`; None otherwise. */
  def collect(df: DataFrame, maxRows: Int,
      maxBytes: Long = DefaultMaxBytes): Option[Array[Row]] = {
    require(maxRows >= 0 && maxRows < Int.MaxValue, s"maxRows $maxRows")
    val schema = df.schema
    val parts = df.sparkSession.sparkContext.runJob(
      df.limit(maxRows + 1).queryExecution.toRdd, (it: Iterator[InternalRow]) => {
        val toUnsafe = UnsafeProjection.create(schema)
        val buf = ArrayBuffer.empty[UnsafeRow]
        var b = 0L
        while (it.hasNext && b <= maxBytes) {
          val u = toUnsafe(it.next()).copy()
          buf += u
          b += u.getSizeInBytes
        }
        buf.toArray
      })
    val rows = parts.flatten
    if (rows.length > maxRows || rows.iterator.map(_.getSizeInBytes.toLong).sum > maxBytes)
      None
    else {
      val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
      Some(rows.map(toRow))
    }
  }
}

/** The distinct value patterns of a few columns (cast to string; null is a
  * value) with their row counts — the whole input of a fit that reads its
  * rows only through pattern counts (categorical LCA, KModes, the χ²
  * slicer). `patterns(i)(j)` is pattern i's value of column j. */
final case class PatternTable(patterns: Array[Array[String]], counts: Array[Long]) {
  def n: Long = counts.sum
}

object PatternTable {

  /** Default pattern bound: far above a survey's answer patterns, and small
    * enough that a driver-side EM sweep over it takes milliseconds. */
  val DefaultMaxPatterns: Int = 1 << 16

  /** One `groupBy(cols cast to string).count()` through [[DriverGate]],
    * patterns in ascending order (null first), so a driver-side fit sums
    * in the same order on every run. */
  def collect(df: DataFrame, cols: Seq[String],
      maxPatterns: Int = DefaultMaxPatterns): Option[PatternTable] =
    DriverGate.collect(df.groupBy(cols.map(c => col(c).cast("string").as(c)): _*)
        .agg(count(lit(1))), maxPatterns)
      .map { rows =>
        val sorted = rows.map(r => (Array.tabulate(cols.size)(r.getString),
          r.getLong(cols.size))).sortBy(_._1.toSeq.map(Option(_)))(
          Ordering.Implicits.seqOrdering[Seq, Option[String]])
        PatternTable(sorted.map(_._1), sorted.map(_._2))
      }

  /** The mode of (value, rows) pairs: most rows, ties to the smallest value
    * (String order, null smallest). */
  def mode(valueCounts: Iterable[(String, Long)]): (String, Long) =
    valueCounts.maxBy { case (v, n) => (n, Option(v)) }(
      Ordering.Tuple2(Ordering.Long, Ordering.Option(Ordering.String).reverse))
}
