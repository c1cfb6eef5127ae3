package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder + job ledger for the traced run.
  *
  * Before each call into a layer's public function the recorder sets the
  * Spark local property [[Tracer.Property]] to the span's instance id; the
  * property travels with every job the call submits, including jobs from
  * threads the call spawns (`graft.Par.grid`), because Spark's local
  * properties are inherited by child threads. The [[Ledger]] listener reads
  * the property from each job-start event and charges the job, and every
  * task of the stages it submits, to that span.
  *
  * Everything stays in memory; [[Tracer.json]] renders spans and jobs for
  * the run's trace file, and the self-time / driver-only arithmetic is done
  * from that file (perfbench/spans.py). Times are epoch milliseconds. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val clockAnchorMs = System.currentTimeMillis().toDouble
  private val clockAnchorNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  val ledger = new Ledger
  sc.addSparkListener(ledger)

  def nowMs(): Double = clockAnchorMs + (System.nanoTime() - clockAnchorNs) / 1e6

  /** Run `body` inside span `name` (a `<layer>.<call>` name); spans nest. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1),
      nowMs(), Double.NaN)
    spans += s
    val previous = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, s.id.toString)
    open = s :: open
    try body
    finally {
      s.endMs = nowMs()
      open = open.tail
      sc.setLocalProperty(Property, previous)
    }
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def json(): String = {
    drain()
    Json.render(Map(
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> ledger.jobs.values.toSeq.sortBy(_.id).map(_.toMap)))
  }
}

object Tracer {
  val Property = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startMs: Double,
      var endMs: Double)
}

/** Job ledger: one entry per job, with the span id it was submitted under
  * and the summed task metrics of the stages it ran. A stage shared by two
  * jobs is charged to the job that submitted it first. */
final class Ledger extends SparkListener {

  final class Job(val id: Int, val span: Int, val startMs: Double) {
    var endMs: Double = Double.NaN
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var resultB = 0L

    def toMap: Map[String, Any] = Map("id" -> id, "span" -> span,
      "start_ms" -> startMs, "end_ms" -> endMs, "stages" -> stages,
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "shuffle_read_b" -> shuffleReadB, "shuffle_write_b" -> shuffleWriteB,
      "spill_b" -> spillB, "result_b" -> resultB)
  }

  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Property))).map(_.toInt).getOrElse(-1)
    val job = new Job(e.jobId, span, e.time.toDouble)
    jobs(e.jobId) = job
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      job.tasks += 1
      job.runMs += m.executorRunTime
      job.cpuNs += m.executorCpuTime
      job.gcMs += m.jvmGCTime
      job.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      job.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      job.spillB += m.diskBytesSpilled
      job.resultB += m.resultSize
    }
  }
}

/** Minimal JSON rendering for the run's result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
