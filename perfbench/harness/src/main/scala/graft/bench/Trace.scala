package graft.bench

import java.time.Instant
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `kind` is one of workload, setup, pass, call, build,
  * action or verb; `parent` is the enclosing span's id (-1 for the root).
  */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    pass: Int, startNs: Long, startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span log, written out once the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()

  def open(name: String, kind: String, parent: Int, pass: Int): Span =
    synchronized {
      val s = Span(buf.size, name, kind, parent, pass, System.nanoTime(),
        System.currentTimeMillis())
      buf += s
      s
    }

  def close(s: Span): Unit = {
    s.endMs = System.currentTimeMillis()
    s.endNs = System.nanoTime()
  }

  def all: Seq[Span] = synchronized(buf.toList)

  def get(id: Int): Span = synchronized(buf(id))

  /** The call span a leaf span belongs to (itself if it is a call). */
  def callOf(id: Int): Option[Span] = {
    var s = get(id)
    while (s.kind != "call" && s.parent >= 0) s = get(s.parent)
    if (s.kind == "call") Some(s) else None
  }

  /** The call span whose wall-clock interval holds `ms`; calls run one
    * after another, so at most one does.
    */
  def callAt(ms: Long): Option[Span] = synchronized {
    buf.reverseIterator.find(s => s.kind == "call" && s.startMs <= ms &&
      (s.endMs < 0 || ms <= s.endMs))
  }
}

/** Per-call layer counters gathered from Spark's public listeners.
  *
  * Jobs and stages are attributed through the `graftbench.span` local
  * property the harness sets around each build/action; Catalyst
  * executions and streaming progress carry no properties, so they are
  * attributed by wall clock to the call that was running.
  */
final class Trace(spans: Spans) extends SparkListener
    with QueryExecutionListener {
  import Trace._

  private val acc = mutable.Map[(Int, String), Double]()
  private val stageLeaf = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val jobStages = mutable.Map[Int, (Int, Seq[Int])]()
  private val submitted = mutable.Set[Int]()
  private val markers = mutable.Map[String, CountDownLatch]()
  private val markerJobs = mutable.Map[Int, String]()
  // query id -> (call span, state rows, state bytes) of its latest progress
  private val streamState = mutable.Map[String, (Int, Long, Long)]()

  private def add(call: Int, key: String, v: Double): Unit = synchronized {
    acc((call, key)) = acc.getOrElse((call, key), 0.0) + v
  }

  private def max(call: Int, key: String, v: Double): Unit = synchronized {
    acc((call, key)) = math.max(acc.getOrElse((call, key), 0.0), v)
  }

  private def leafOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

  /** Blocks until every listener event posted before this call has been
    * handled: a marker job's end arrives after them on the shared queue.
    */
  def drain(sc: org.apache.spark.SparkContext, id: String): Unit = {
    val latch = new CountDownLatch(1)
    synchronized(markers(id) = latch)
    sc.setLocalProperty(MarkerKey, id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    latch.await(60, TimeUnit.SECONDS)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey))) match {
      case Some(marker) => synchronized(markerJobs(e.jobId) = marker)
      case None => leafOf(e.properties).foreach { leaf =>
        spans.callOf(leaf).foreach { c =>
          add(c.id, "exec.jobs", 1)
          if (spans.get(leaf).kind == "build") add(c.id, "queries.eager_jobs", 1)
        }
        synchronized(jobStages(e.jobId) = (leaf, e.stageIds))
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val done = synchronized(jobStages.remove(e.jobId))
    done.foreach { case (leaf, ids) =>
      val skipped = synchronized(ids.count(id => !submitted(id)))
      spans.callOf(leaf).foreach(c => add(c.id, "exec.stages_skipped", skipped))
    }
    synchronized(markerJobs.remove(e.jobId).flatMap(markers.remove))
      .foreach(_.countDown())
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    synchronized {
      submitted += id
      leafOf(e.properties).foreach(stageLeaf(id) = _)
      e.stageInfo.submissionTime.foreach(stageSubmit(id) = _)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stageLeaf.get(e.stageInfo.stageId))
      .flatMap(spans.callOf).foreach(c => add(c.id, "exec.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (leaf, submit) =
      synchronized((stageLeaf.get(e.stageId), stageSubmit.get(e.stageId)))
    leaf.flatMap(spans.callOf).foreach { c =>
      val k = c.id
      add(k, "exec.tasks", 1)
      if (e.reason != Success) add(k, "exec.failed_tasks", 1)
      submit.foreach(s => add(k, "exec.task_wait_s",
        math.max(0L, e.taskInfo.launchTime - s) / 1e3))
      val m = e.taskMetrics
      if (m != null) {
        add(k, "exec.deser_s", m.executorDeserializeTime / 1e3)
        add(k, "exec.task_run_s", m.executorRunTime / 1e3)
        add(k, "exec.task_cpu_s", m.executorCpuTime / 1e9)
        add(k, "exec.gc_s", m.jvmGCTime / 1e3)
        add(k, "exec.result_mb", m.resultSize / MB)
        max(k, "exec.peak_mem_mb", m.peakExecutionMemory / MB)
        add(k, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add(k, "shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add(k, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(k, "spill.disk_mb", m.diskBytesSpilled / MB)
        add(k, "scan.input_mb", m.inputMetrics.bytesRead / MB)
        add(k, "scan.rows", m.inputMetrics.recordsRead)
        add(k, "output.mb", m.outputMetrics.bytesWritten / MB)
      }
    }
  }

  private def onExecution(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    phases.values.map(_.startTimeMs).minOption.flatMap(spans.callAt)
      .foreach { c =>
        add(c.id, "catalyst.executions", 1)
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach(s => add(c.id, s"catalyst.${p}_s",
            s.durationMs / 1e3))
        }
      }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = onExecution(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = onExecution(qe)

  /** Structured Streaming progress, attributed to the call running at the
    * trigger's start.
    */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      spans.callAt(Instant.parse(p.timestamp).toEpochMilli).foreach { c =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        def secs(keys: String*): Double = keys.flatMap(d.get).sum / 1e3
        add(c.id, "stream.batches", 1)
        add(c.id, "stream.trigger_s", secs("triggerExecution"))
        add(c.id, "stream.addbatch_s", secs("addBatch"))
        add(c.id, "stream.planning_s", secs("queryPlanning"))
        add(c.id, "stream.log_commit_s", secs("walCommit", "commitOffsets"))
        add(c.id, "stream.state_commit_s",
          p.stateOperators.map(_.commitTimeMs).sum / 1e3)
        synchronized(streamState(p.id.toString) = (c.id,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      }
    }
  }

  /** Counters per call span id, with each stream's last state size
    * charged to the call that left it.
    */
  def perCall: Map[Int, Map[String, Double]] = synchronized {
    val state = streamState.values.toSeq.flatMap { case (c, rows, bytes) =>
      Seq((c, "stream.state_rows") -> rows.toDouble,
        (c, "stream.state_mb") -> bytes / MB)
    }
    (acc.toSeq ++ state).groupBy(_._1._1).map { case (c, kvs) =>
      c -> kvs.groupMapReduce(_._1._2)(_._2)(_ + _)
    }
  }
}

object Trace {
  val SpanKey = "graftbench.span"
  val MarkerKey = "graftbench.marker"
  val MB: Double = 1024.0 * 1024.0
}
