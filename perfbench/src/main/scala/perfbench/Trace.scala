package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval: a pass, an operation, a public call or query phase.
  * Times are epoch microseconds.
  */
final case class Span(
    id: Int, parent: Int, kind: String, name: String, layer: String,
    start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e6
}

/** Spans kept in memory. With tracing on, the innermost open span's id is
  * set as a Spark local property, so every job records the span that
  * caused it (broadcast and AQE jobs inherit local properties).
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val nano0 = System.nanoTime()
  private val micros0 = System.currentTimeMillis() * 1000L

  def now(): Long = micros0 + (System.nanoTime() - nano0) / 1000L

  /** Runs `body` inside a new span; returns its value and the span. */
  def span[T](kind: String, name: String, layer: String = "")(body: => T): (T, Span) = {
    val s = Span(spans.size + 1, open.headOption.fold(0)(_.id), kind, name, layer, now())
    spans += s
    open = s :: open
    if (on) spark.sparkContext.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try (body, s)
    finally {
      s.end = now()
      open = open.tail
      if (on) spark.sparkContext.setLocalProperty(Tracer.SpanKey,
        open.headOption.map(_.id.toString).orNull)
    }
  }

  def byId(id: Int): Option[Span] = if (id >= 1 && id <= spans.size) Some(spans(id - 1)) else None

  /** The span itself and its ancestors, innermost first. */
  def chain(id: Int): List[Span] =
    byId(id).fold(List.empty[Span])(s => s :: chain(s.parent))
}

object Tracer { val SpanKey = "perfbench.span" }

/** What the listener saw of one Spark job. */
final class JobRec(val id: Int, val span: Int, val callSite: String, val start: Long) {
  var end = 0L
  var stages, tasks = 0
  var taskMs, shuffleWrite, shuffleRead, spill, recordsRead, bytesWritten = 0L
  def seconds: Double = (end - start) / 1e3
  /** Source file of the call site, e.g. `Sinks.scala`. */
  def file: Option[String] = Layers.fileOf(callSite)
}

/** Job-level recorder. The call site of a SQL job is its execution's call
  * site (computed on the calling thread); of any other job, its result
  * stage's name. Both read `<op> at <File>.scala:<line>`.
  */
final class JobRecorder extends SparkListener {
  private val sqlSite = mutable.Map.empty[Long, String]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(sqlSite(s.executionId) = s.description)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.sql.execution.id").flatMap(id => sqlSite.get(id.toLong))
      .getOrElse(e.stageInfos.maxBy(_.stageId).name)
    val j = new JobRec(e.jobId, prop(Tracer.SpanKey).fold(0)(_.toInt), site, e.time)
    e.stageIds.foreach(stageJob(_) = j)
    byId(e.jobId) = j
    jobs += j
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.recordsRead += m.inputMetrics.recordsRead
      j.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  /** Jobs caused by span `root` or its descendants, once the bus has
    * delivered every event posted so far.
    */
  def under(spark: SparkSession, tracer: Tracer, root: Int): Seq[JobRec] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(jobs.filter(j => tracer.chain(j.span).exists(_.id == root)).toSeq)
  }
}

/** Layer attribution: a job belongs to the layer whose file holds its
  * call site. A call site in the benchmark's own files (a DataFrame the
  * benchmark forces) falls back to the layer of the span that caused it,
  * and so does any call site inside a query span: the `queries` layer is
  * every module a query calls into.
  */
object Layers {
  val byFile: Map[String, String] = Map(
    "InsightsSource.scala" -> "ads.source",
    "InsightsV2Source.scala" -> "ads.source",
    "AdOps.scala" -> "ads.ops",
    "Sinks.scala" -> "ads.sinks",
    "SchemaEvolution.scala" -> "ads.schema_evolution",
    "Monitoring.scala" -> "ads.monitoring",
    "Pipelines.scala" -> "ads.pipelines")

  /** The benchmark files that force DataFrames. */
  val benchFiles: Set[String] = Set("PerfBench.scala", "Workloads.scala")

  private val SiteFile = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r.unanchored

  def fileOf(callSite: String): Option[String] = callSite match {
    case SiteFile(f) => Some(f)
    case _ => None
  }

  def layerOf(job: JobRec, tracer: Tracer): String = {
    val spanLayer = tracer.chain(job.span).map(_.layer).find(_.nonEmpty)
    job.file match {
      case Some(f) if byFile.contains(f) => byFile(f)
      case Some(f) if benchFiles(f) && spanLayer.nonEmpty => spanLayer.get
      case _ if spanLayer.contains("queries") => "queries"
      case _ => "unattributed"
    }
  }
}
