package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the Spark work done inside one span. */
final class Work {
  var jobs, tasks, failures = 0L
  var cpuNs, shuffleWrite, spill, outBytes = 0L
  /** FASTQ scan tasks: each reads one whole shard file */
  var fastqScans, parquetBytes = 0L
  var planMs = 0L
  /** jobs whose call site passes through the EM loop body */
  var emJobs = 0L

  def add(o: Work): Work = {
    jobs += o.jobs; tasks += o.tasks; failures += o.failures
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite; spill += o.spill
    outBytes += o.outBytes; fastqScans += o.fastqScans; parquetBytes += o.parquetBytes
    planMs += o.planMs; emJobs += o.emJobs
    this
  }
}

/** A closed span: name, start and end (ns since the tracer started), the
  * enclosing span ("" at top level) and the run it belongs to. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long,
    runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One SparkListener plus benchmark-side spans.
  *
  * A span sets a local property that every Spark job started inside it
  * inherits, so jobs, tasks and task metrics are charged to the innermost
  * open span exactly, not by time windows. Spans stay in memory; the
  * harness writes them out when the run ends. */
final class Tracer(spark: SparkSession, runId: String) extends SparkListener {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val origin = System.nanoTime()
  private val stageSpan = mutable.Map[Int, String]()
  private val stageScan = mutable.Map[Int, String]()
  private val work = mutable.Map[String, Work]()
  @volatile private var open = ""
  val spans = mutable.ArrayBuffer[Span]()

  private def at(span: String): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .getOrElse("")
    val w = at(span)
    w.jobs += 1
    // the result stage (highest id) carries the job's own call site
    if (e.stageInfos.nonEmpty &&
        e.stageInfos.maxBy(_.stageId).details.contains("Quantify$.emIterate"))
      w.emJobs += 1
    e.stageInfos.foreach { s =>
      stageSpan(s.stageId) = span
      val rdds = Internals.scans(s)
      stageScan(s.stageId) =
        if (rdds.exists(_.contains("fastq"))) "fastq"
        else if (rdds.exists(_.contains("Scan parquet"))) "parquet"
        else ""
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = at(stageSpan.getOrElse(e.stageId, ""))
    w.tasks += 1
    if (e.reason != Success) w.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.outBytes += m.outputMetrics.bytesWritten
      stageScan.getOrElse(e.stageId, "") match {
        case "fastq" if e.reason == Success => w.fastqScans += 1
        case "parquet" => w.parquetBytes += m.inputMetrics.bytesRead
        case _ =>
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized {
        at(open).planMs += qe.tracker.phases
          .collect { case (p, s) if p != "parsing" => s.durationMs }.sum
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): this.type = {
    sc.addSparkListener(this)
    spark.listenerManager.register(planListener)
    this
  }

  def stop(): Unit = {
    Internals.flush(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }

  /** Run `f` as span `name`, nested in the currently open span. */
  def span[T](name: String)(f: => T): T = {
    val parent = open
    open = name
    sc.setLocalProperty(Key, name)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      Internals.flush(sc)
      spans += Span(name, parent, t0 - origin, t1 - origin, runId)
      open = parent
      sc.setLocalProperty(Key, if (parent.isEmpty) null else parent)
    }
  }

  /** Work charged to the spans whose names start with `prefix` ("" is
    * everything, including work outside any span). */
  def workOf(prefix: String): Work = synchronized {
    work.collect { case (k, w) if k.startsWith(prefix) => w }
      .foldLeft(new Work)(_ add _)
  }

  /** Summed duration of the closed spans named `name`. */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
}
