package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._

/** One timed call into a layer. Query spans have `parent == -1`; their
  * children are the layer calls `parse`, `build`, `plan`, `exec` and
  * `render`. Counter fields are deltas over the span (traced runs only).
  */
final case class Span(
    id: Int,
    parent: Int,
    pass: Int,
    name: String,
    label: String,
    startNs: Long,
    endNs: Long,
    codegenCompiles: Long,
    codegenMs: Double,
    filesDiscovered: Long
) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: every job started while the span's
  * id was the thread's `perfbench.span` local property, with the stages
  * and tasks of those jobs.
  */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var taskCpuNs = 0L
  var taskWaitMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** Attributes jobs, stages and task metrics to spans. Runs on Spark's
  * listener thread, so it only appends to maps keyed by span id.
  */
final class LayerListener extends SparkListener {
  val work = new ConcurrentHashMap[String, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  /** Spans of every job whose end event has been seen. */
  val ended: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  private def acc(span: String): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.Prop))).getOrElse("-")
    jobSpan.put(e.jobId, span)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    acc(span).synchronized(acc(span).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    ended.add(jobSpan.getOrDefault(e.jobId, "-"))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(id, t))
    val a = acc(stageSpan.getOrDefault(id, "-"))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, "-"))
    val m = e.taskMetrics
    val submitted = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
    a.synchronized {
      a.tasks += 1
      submitted.foreach(s => a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.spill += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
      }
    }
  }
}

/** Times calls into the program's layers. Untraced, it only reads the
  * clock. Traced, it also tags Spark jobs with the enclosing span
  * (`SparkContext.setLocalProperty`, read back by [[LayerListener]]) and
  * takes deltas of Spark's codegen and file-catalog counters.
  */
final class Recorder(sc: SparkContext, val traced: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  /** `render` spans whose pipeline the SQL-text backend rejected. */
  val rejected = scala.collection.mutable.HashSet.empty[Int]
  val listener: Option[LayerListener] =
    if (traced) { val l = new LayerListener; sc.addSparkListener(l); Some(l) } else None
  private var nextId = 0
  private var current = -1

  private def codegenCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def codegenMeanMs: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
  private def files: Long = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  /** Run `body` inside a span named `name`; `body` receives the span id. */
  def span[A](name: String, pass: Int, label: String = "")(body: Int => A): A = {
    val id = nextId
    nextId += 1
    val parent = current
    current = id
    if (traced) sc.setLocalProperty(Recorder.Prop, id.toString)
    val c0 = if (traced) codegenCount else 0L
    val f0 = if (traced) files else 0L
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      val compiles = if (traced) codegenCount - c0 else 0L
      // The histogram keeps no sum: estimate the span's compile time from
      // its compile count and the histogram's mean.
      val compileMs = if (compiles > 0) compiles * codegenMeanMs else 0.0
      spans += Span(id, parent, pass, name, label, t0, t1, compiles, compileMs,
        if (traced) files - f0 else 0L)
      current = parent
      if (traced) sc.setLocalProperty(Recorder.Prop, if (parent >= 0) parent.toString else null)
    }
  }

  /** Wait until the listener has seen every event posted so far: run a
    * marker job and wait for its end event, which the listener queue
    * delivers after everything posted before it.
    */
  def drain(): Unit = listener.foreach { l =>
    val marker = s"drain-${System.nanoTime()}"
    sc.setLocalProperty(Recorder.Prop, marker)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Recorder.Prop, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!l.ended.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def work(spanId: Int): SparkWork =
    listener.flatMap(l => Option(l.work.get(spanId.toString))).getOrElse(new SparkWork)
}

object Recorder {
  val Prop = "perfbench.span"
}
