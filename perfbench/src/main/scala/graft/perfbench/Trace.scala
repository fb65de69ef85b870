package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a call from the benchmark into a layer. Spans of one request
  * share `request`; `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, request: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work done by one Spark job, summed over its tasks. `group` is the job
  * group the benchmark set before the call that launched it (the span id),
  * or the run id of the streaming query that launched it.
  */
final class JobStats(val jobId: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = startMs
  var stages, tasks = 0
  var runMs, gcMs, recordsRead, shuffleWrite, shuffleRead, spill, written = 0L
  var cpuNs = 0L
}

/** Spans (kept in memory, written out at the end) plus the Spark work done
  * under each of them. With `enabled = false` every call is a plain call:
  * no span, no job group, no Spark listener. Streaming progress events are
  * collected either way, because the refresh reader runs on them.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spansBuf = ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var requestId = 0L

  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** streaming query run id → layer, for jobs launched on stream threads */
  val streamGroups = new ConcurrentHashMap[String, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new JobStats(e.jobId, group, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(j => j.synchronized { j.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- job(e.stageId); m <- Option(e.taskMetrics)) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.recordsRead += m.inputMetrics.recordsRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.written += m.outputMetrics.bytesWritten
      }
    private def job(stage: Int): Option[JobStats] =
      Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
  }

  /** Streaming progress events, in arrival order, with the wall time they
    * arrived. Collected in both modes: the refresh workload's reader is
    * driven by them.
    */
  val progress = new java.util.concurrent.LinkedBlockingQueue[(Long, StreamingQueryListener.QueryProgressEvent)]()
  private val progressLog = ArrayBuffer.empty[(Long, StreamingQueryListener.QueryProgressEvent)]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val x = (System.currentTimeMillis(), e)
      progress.put(x)
      progressLog.synchronized { progressLog += x }
    }
  }

  if (enabled) sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  def progressEvents: Seq[(Long, StreamingQueryListener.QueryProgressEvent)] =
    progressLog.synchronized(progressLog.toList)

  def spans: Seq[Span] = spansBuf.synchronized(spansBuf.toList)

  /** Start a new request: spans opened until the next call share its id. */
  def newRequest(): Long = { requestId += 1; requestId }

  /** Run `body` as a span of `layer`. Jobs it launches from this thread are
    * put in a job group named after the span.
    */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(s"span:$id", s"$layer:$name", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span:$p", "", interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        spansBuf.synchronized { spansBuf += Span(id, parent, requestId, layer, name, t0, t1) }
      }
    }

  /** The spans under `root` (itself included). */
  def subtree(root: Span): Seq[Span] = {
    val all = spans
    val byParent = all.groupBy(_.parent)
    def walk(s: Span): List[Span] = s :: byParent.getOrElse(s.id, Nil).toList.flatMap(walk)
    walk(root)
  }

  /** Jobs launched under any span of `spansIn`. */
  def jobsOf(spansIn: Seq[Span]): Seq[JobStats] = {
    val groups = spansIn.map(s => s"span:${s.id}").toSet
    jobs.values.asScala.filter(j => groups(j.group)).toSeq
  }

  /** Jobs launched by a streaming query registered under `layer`. */
  def streamJobs(layer: String): Seq[JobStats] = {
    val runIds = streamGroups.asScala.collect { case (r, l) if l == layer => r }.toSet
    jobs.values.asScala.filter(j => runIds(j.group)).toSeq
  }

  /** Jobs that started inside the wall-clock window [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobStats] =
    jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq

  /** Wait until every listener event so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchShim.drainListeners(sc)

  def close(): Unit = {
    if (enabled) sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans as JSON lines (one object per span). */
  def writeSpans(path: String, workload: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(Json.obj(Seq("workload" -> workload, "id" -> s.id, "parent" -> s.parent,
        "request" -> s.request, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally out.close()
  }
}

/** Aggregates over a set of jobs. */
object JobSums {
  def apply(js: Seq[JobStats]): Map[String, Double] = {
    val s = js.map(_.stages).sum
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> s.toDouble,
      "tasks" -> js.map(_.tasks.toLong).sum.toDouble,
      "run_s" -> js.map(_.runMs).sum / 1e3,
      "cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "gc_s" -> js.map(_.gcMs).sum / 1e3,
      "records_read" -> js.map(_.recordsRead).sum.toDouble,
      "shuffle_write_mb" -> js.map(_.shuffleWrite).sum / 1048576.0,
      "shuffle_mb" -> js.map(j => j.shuffleWrite + j.shuffleRead).sum / 1048576.0,
      "spill_mb" -> js.map(_.spill).sum / 1048576.0,
      "write_mb" -> js.map(_.written).sum / 1048576.0)
  }

  /** Wall time inside [fromMs, toMs] during which no job was running. */
  def idleMs(js: Seq[JobStats], fromMs: Long, toMs: Long): Long = {
    val iv = js.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    (toMs - fromMs) - busy
  }
}
