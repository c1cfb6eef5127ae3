package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A registered query: the Spark implementation plus, when the operator is
  * SQL-expressible, an equivalent DuckDB oracle over the same parquet tables.
  *
  * Contract (driver): `fn(spark, sfDir)` must return a deterministic result
  * whose column names match the oracle's aliases exactly — the driver sorts
  * columns by name and hashes values, so every computed column is aliased
  * identically on both sides and floats are rounded to a fixed number of
  * decimals to absorb accumulation-order ulp differences.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String] = None)

object Q {
  /** JSON-serialize array columns for the driver's comparator: its pandas
    * sort/hash pass cannot order numpy-array cells (round-1 failure mode on
    * q_inf_deliver/q_inf_discover/q_mm_stub_decode), so registered queries
    * emit arrays as deterministic JSON strings. Library APIs keep real
    * ArrayType columns; only the registry surface flattens. */
  def serializeArrays(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, to_json}
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
  }
}

/** Bounded concurrent launcher for independent Spark jobs (grid searches,
  * per-group fits). The reference fans these out with joblib process pools
  * sized cpu_count (SURVEY §4.2, clustering.py:114); the Spark equivalent is
  * submitting the independent jobs concurrently from driver threads and
  * letting the scheduler interleave their stages. Unlike the reference's
  * nested pools, parallelism is explicitly bounded — results keep the input
  * order, so seeded selections stay deterministic. */
object Par {
  def grid[A, B](items: Seq[A], parallelism: Int = 8)(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try Await.result(
      Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
    finally pool.shutdown()
  }
}

/** Spark's string ordering: unsigned UTF-8 bytes (UTF8String, and DuckDB's
  * binary-collation VARCHAR), which Java's UTF-16 `compareTo` diverges from
  * outside the BMP. Driver-side twins of an orderBy use it to tie-break
  * exactly as the distributed plan does. */
object Utf8Order extends Ordering[String] {
  def compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    var res = 0
    while (i < n && res == 0) {
      res = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
    if (res != 0) res else x.length - y.length
  }
}

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize an event-time column to microsecond TimestampType (UTC
    * instant) from every encoding a producing writer is known to emit:
    *  - TIMESTAMP(NANOS): Spark has no nanos type, so sessions set
    *    spark.sql.legacy.parquet.nanosAsLong and we floor-div to micros
    *    (matches DuckDB's ns→us truncation for positive epochs);
    *  - timestamp[us] with no timezone (any pandas/pyarrow writer without
    *    a tz): Spark reads TIMESTAMP_NTZ; the naive value is UTC wall time,
    *    so reinterpret it as a UTC instant. convert_timezone against
    *    current_timezone() keeps the cast correct even in a session that
    *    did not pin spark.sql.session.timeZone=UTC.
    * Works on batch and streaming frames alike (pure column rewrite). */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType =>
        df.withColumn(tsCol, expr(
          s"cast(convert_timezone('UTC', current_timezone(), $tsCol) as timestamp)"))
      case _ => df
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
