package dumpsterbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a layer. `round` groups the spans of one round. */
final case class Span(id: Int, name: String, parent: Int, round: Int,
    startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task counters attributed to one span (innermost enclosing). */
final class Counters {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill,
    recordsRead, bytesRead, scanRunMs, recordsWritten, bytesWritten = 0L
}

/** Spans around the benchmark's calls into the engine, plus the listeners
  * that attribute Spark's task metrics, per-operator SQL metrics and
  * streaming progress to them. The benchmark's thread tags every job it starts
  * with the innermost open span (a local property Spark copies into the
  * job's properties), so listener events find their span without timing
  * guesses. Spans stay in memory until [[writeSpans]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var round = 0
  /** Whether spans are recorded and listeners attached right now. */
  private var on = false

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), round,
        System.nanoTime)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  // ── listener state: written on the listener bus, read after barrier() ──
  private val stageSpan = TrieMap[Int, Int]()
  private val execSpan = TrieMap[Long, Int]()
  private val counters = TrieMap[Int, Counters]()
  private val filesAccums = TrieMap[Long, Boolean]()
  private val execFiles = TrieMap[Long, Long]()
  @volatile private var barrierSeen = -1L
  private var barrierSent = 0L
  /** Progress events per streaming run id, and how many have arrived. */
  val progress = TrieMap[java.util.UUID, ArrayBuffer[StreamingQueryProgress]]()
  private val progressSeen = TrieMap[java.util.UUID, Int]()

  def countersOf(spanId: Int): Counters = counters.getOrElseUpdate(spanId, new Counters)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)

  /** Scan nodes' "number of files read", found by walking the plan Spark
    * posts; the values arrive later, as metric updates posted while planning. */
  private def registerPlan(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan"))
      p.metrics.filter(_.name == "number of files read").foreach(m => filesAccums.put(m.accumulatorId, true))
    p.children.foreach(registerPlan)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      countersOf(s).jobs += 1
      e.stageIds.foreach(stageSpan.put(_, s))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.putIfAbsent(id.toLong, s))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      countersOf(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val c = countersOf(stageSpan.getOrElse(e.stageId, -1))
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesRead += m.inputMetrics.bytesRead
        if (m.inputMetrics.bytesRead > 0) c.scanRunMs += m.executorRunTime
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => registerPlan(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => registerPlan(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          if (filesAccums.contains(id)) execFiles.put(d.executionId, execFiles.getOrElse(d.executionId, 0L) + v)
        }
      case _ => ()
    }
  }

  /** Counts progress events so a round can wait until every listener on
    * the streaming bus has seen its last batch: the bus calls listeners in
    * the order they were added, so this one must come after the collector's
    * metrics listener ([[watchStreams]]). */
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (on) progress.getOrElseUpdate(e.progress.runId, ArrayBuffer()) += e.progress
      progressSeen.synchronized {
        progressSeen.put(e.progress.runId, progressSeen.getOrElse(e.progress.runId, 0) + 1)
      }
    }
  }

  /** Attaches the progress listener; call once, after the engine's own. */
  def watchStreams(): Unit = spark.streams.addListener(streamListener)

  private val barrierListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(BarrierKey)))
        .foreach(n => barrierSeen = n.toLong)
  }
  sc.addSparkListener(barrierListener)

  def setTracing(enabled: Boolean): Unit = if (enabled != on) {
    on = enabled
    if (on) sc.addSparkListener(sparkListener) else sc.removeSparkListener(sparkListener)
  }

  /** Runs one tiny tagged job and waits until the listener bus delivers its
    * start: every event posted before it has then reached every listener on
    * the shared queue. */
  def barrier(): Unit = {
    barrierSent += 1
    sc.setLocalProperty(BarrierKey, barrierSent.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(BarrierKey, null)
    awaitTrue(barrierSeen >= barrierSent, "listener bus barrier")
  }

  /** Waits until every progress event of `runId` up to `batches` arrived. */
  def awaitProgress(runId: java.util.UUID, batches: Int): Unit =
    awaitTrue(progressSeen.getOrElse(runId, 0) >= batches, s"progress of $runId")

  /** Files read by executions tagged with span `id`. */
  def filesReadBy(id: Int): Long =
    execSpan.collect { case (ex, s) if s == id => execFiles.getOrElse(ex, 0L) }.sum

  /** One JSON line per span, with its self time. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val self = selfSeconds(spans.toSeq)
    Gen.write(path, spans.iterator.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"round":${s.round},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${self(s.id)}}"""
    })
  }
}

object Tracer {
  val SpanKey = "dumpsterbench.span"
  val BarrierKey = "dumpsterbench.barrier"

  def awaitTrue(cond: => Boolean, what: String, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis > deadline) sys.error(s"timed out waiting for $what")
      Thread.sleep(2)
    }
  }

  /** Self time of each span: its duration minus its children's. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }
}
