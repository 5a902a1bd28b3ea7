package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** A span the benchmark records around one of its calls into the engine:
  * a unit, a generation, a micro-batch or a one-shot call. Times are epoch
  * milliseconds, the clock Spark stamps its job and task events with.
  */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long,
                      attrs: Map[String, Double] = Map.empty) {
  /** The precise duration where the span carries one, else its stamps' difference. */
  def seconds: Double = attrs.getOrElse("seconds", (endMs - startMs) / 1e3)
}

/** Per-layer task metrics gathered by [[LayerListener]]. */
final class LayerTotals {
  var jobs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

object LayerListener {
  /** The engine layers, named by the source file of a job's call site. */
  val Layers: Seq[(String, String)] = Seq(
    "CrawlEngine.scala" -> "pipeline",
    "SnapshotStore.scala" -> "snapshot",
    "TextDedup.scala" -> "ml",
    "DedupStream.scala" -> "streaming")

  /** The layer of a job: the file named by its call site, else the first
    * engine layer file on its call stack, else `other`.
    */
  def layerOf(shortForm: String, longForm: String): String =
    Layers.collectFirst { case (f, l) if shortForm.contains(f) => l }
      .orElse(longForm.linesIterator.flatMap(line =>
        Layers.collectFirst { case (f, l) if line.contains(f) => l }).nextOption())
      .getOrElse("other")
}

/** Records task metrics per job and attributes each job to a layer by its
  * call site: the call site of the SQL execution the job belongs to (jobs
  * that Spark starts on its own threads, such as broadcasts and adaptive
  * stages, carry no engine frame of their own), else the job's. Everything
  * is kept in memory; events are delivered on Spark's listener thread, so
  * readers must first stop the SparkContext, which drains the listener bus.
  */
final class LayerListener(sinceMs: Long) extends SparkListener {
  /** Jobs and tasks started after this are not recorded. */
  @volatile var untilMs: Long = Long.MaxValue
  val totals: mutable.Map[String, LayerTotals] = mutable.Map.empty
  val jobStarts: mutable.ArrayBuffer[(Long, String)] = mutable.ArrayBuffer.empty
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  var bytesRead = 0L
  var bytesWritten = 0L
  private val stageLayer = mutable.Map.empty[Int, String]
  private val executionLayer = mutable.Map.empty[String, String]

  private def totalsOf(layer: String): LayerTotals = totals.getOrElseUpdate(layer, new LayerTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (e.time >= sinceMs && e.time <= untilMs) {
    // the result stage is created last, so it has the highest id; its
    // name and details are the job's call site
    val result = e.stageInfos.maxBy(_.stageId)
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(executionLayer.get).filter(_ != "other")
      .getOrElse(LayerListener.layerOf(result.name, result.details))
    e.stageIds.foreach(id => stageLayer.getOrElseUpdate(id, layer))
    jobStarts += e.time -> layer
    totalsOf(layer).jobs += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionLayer(s.executionId.toString) = LayerListener.layerOf(s.description, s.details)
    case _ => ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null && m != null && info.launchTime >= sinceMs && info.launchTime <= untilMs) {
      taskIntervals += info.launchTime -> info.finishTime
      val t = totalsOf(stageLayer.getOrElse(e.stageId, "other"))
      t.taskCpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      bytesRead += m.inputMetrics.bytesRead
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs submitted inside a span. */
  def jobsIn(s: Span): Int = jobStarts.count { case (t, _) => t >= s.startMs && t <= s.endMs }

  /** Span wall time during which no task of any job was running. */
  def idleSeconds(s: Span): Double = {
    val clipped = taskIntervals.iterator
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    var busy = 0L
    var curStart = -1L
    var curEnd = -1L
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        busy += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    busy += curEnd - curStart
    (s.endMs - s.startMs - busy) / 1e3
  }
}

object Trace {
  /** Writes the spans, one JSON object a line, then one line per layer. */
  def write(file: java.nio.file.Path, spans: Seq[Span], listener: LayerListener): Unit = {
    def str(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spanLines = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${str(k)}:$v" }.mkString(",")
      s"""{"span":${str(s.name)},"parent":${str(s.parent)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"jobs":${listener.jobsIn(s)},"idle_s":${listener.idleSeconds(s)},""" +
        s""""attrs":{$attrs}}"""
    }
    val layerLines = listener.totals.toSeq.sortBy(_._1).map { case (l, t) =>
      s"""{"layer":${str(l)},"jobs":${t.jobs},"task_cpu_ns":${t.taskCpuNs},"gc_ms":${t.gcMs},""" +
        s""""shuffle_bytes":${t.shuffleBytes},"spill_bytes":${t.spillBytes}}"""
    }
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.writeString(file, (spanLines ++ layerLines).mkString("", "\n", "\n"))
  }
}

/** Records the stream's per-micro-batch durations. */
final class BatchListener extends StreamingQueryListener {
  val batches: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { batches += BatchListener.spanOf(e.progress) }
}

object BatchListener {
  def spanOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Span = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs
    def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    Span(s"batch-${p.batchId}", "drain", start, start + ms("triggerExecution").toLong,
      Map("add_batch_s" -> ms("addBatch") / 1e3, "rows" -> p.numInputRows.toDouble))
  }
}
