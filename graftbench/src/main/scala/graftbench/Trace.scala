package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a named interval with a parent, attributed to an op.
  * Times are epoch nanoseconds; Spark's listener events (epoch ms)
  * are scaled into the same clock. `parent` 0 = root. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    t0: Long, t1: Long, attrs: Map[String, Any]) {
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "op" -> op, "t0" -> t0, "t1" -> t1, "attrs" -> attrs)
}

/** In-memory span recorder. Spans are kept until the run ends and
  * written with the run record; nothing is recorded while `on` is
  * false, so an untraced pass pays one volatile read per span. */
object Trace {
  /** Spark local property carrying the op id into jobs and tasks
    * (local properties are inherited by the stream execution thread,
    * which resets the job group to its own run id). */
  val OpProp = "graftbench.op"
  /** Which caller path is running (the LLM counters split by it). */
  val PathProp = "graftbench.path"

  @volatile var on: Boolean = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def fromMs(ms: Long): Long = ms * 1000000L

  def nextId(): Long = ids.incrementAndGet()

  def add(parent: Long, name: String, op: Long, t0: Long, t1: Long,
      attrs: Map[String, Any] = Map.empty): Long = {
    val id = nextId()
    if (on) spans.add(Span(id, parent, name, op, t0, t1, attrs))
    id
  }

  /** Time `body` as a span named `name` under `parent`. The span id
    * is handed to the body so nested calls can hang under it. */
  def span[T](name: String, op: Long, parent: Long = 0L)(body: Long => T): T = {
    val id = nextId()
    val t0 = now()
    try body(id)
    finally if (on) spans.add(Span(id, parent, name, op, t0, now(), Map.empty))
  }

  def drain(): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    out.result()
  }
}

/** Adds Spark jobs, stages and tasks as spans. Each job is attributed
  * to the op whose id the benchmark put in [[Trace.OpProp]]; stages
  * and tasks hang under their job. */
final class SparkSpans extends SparkListener {
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def opOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Trace.OpProp)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    val id = Trace.nextId()
    // [span id, op, start]
    jobSpan.put(e.jobId, Array(id, op, Trace.fromMs(e.time)))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, (id, op)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobSpan.remove(e.jobId)
    if (j != null && Trace.on)
      Trace.spans.add(Span(j(0), 0L, "spark.job", j(1), j(2),
        Trace.fromMs(e.time), Map("job_id" -> e.jobId,
          "ok" -> (e.jobResult == JobSucceeded))))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val (job, op) = Option(stageJob.get(si.stageId)).getOrElse((0L, 0L))
    val id = stageSpan.computeIfAbsent(si.stageId, _ => Trace.nextId())
    if (Trace.on)
      Trace.spans.add(Span(id, job, "spark.stage", op,
        Trace.fromMs(si.submissionTime.getOrElse(0L)),
        Trace.fromMs(si.completionTime.getOrElse(0L)),
        Map("stage_id" -> si.stageId, "tasks" -> si.numTasks)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (_, op) = Option(stageJob.get(e.stageId)).getOrElse((0L, 0L))
    val parent = stageSpan.computeIfAbsent(e.stageId, _ => Trace.nextId())
    val m = e.taskMetrics
    val attrs: Map[String, Any] =
      if (m == null) Map("failed" -> !e.taskInfo.successful)
      else Map(
        "run_ms" -> m.executorRunTime,
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "peak_mem_b" -> m.peakExecutionMemory,
        "input_b" -> m.inputMetrics.bytesRead,
        "output_b" -> m.outputMetrics.bytesWritten,
        "failed" -> !e.taskInfo.successful)
    if (Trace.on)
      Trace.spans.add(Span(Trace.nextId(), parent, "spark.task", op,
        Trace.fromMs(e.taskInfo.launchTime),
        Trace.fromMs(e.taskInfo.finishTime), attrs))
  }
}

/** Adds streaming micro-batches as spans: the `addBatch` duration
  * and the whole trigger, from each `StreamingQueryProgress`. Each op
  * is one micro-batch, so the benchmark maps (query run id, batch id)
  * to the op ([[own]]) and the spans are attributed when drained. */
final class StreamSpans extends StreamingQueryListener {
  private val owner = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  def own(runId: java.util.UUID, batchId: Long, op: Long): Unit =
    owner.put(s"$runId/$batchId", op)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Trace.on && e.progress.numInputRows > 0) progress.add(e.progress)

  /** Turn the recorded progress events into `streaming.batch` spans. */
  def flush(): Unit = {
    var p = progress.poll()
    while (p != null) {
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = Trace.fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val op = Option(owner.get(s"${p.runId}/${p.batchId}")).map(_.longValue).getOrElse(0L)
      Trace.add(0L, "streaming.batch", op, start,
        start + ms("triggerExecution") * 1000000L,
        Map("batch_id" -> p.batchId, "add_batch_ms" -> ms("addBatch"),
          "trigger_ms" -> ms("triggerExecution"), "rows" -> p.numInputRows))
      p = progress.poll()
    }
  }
}

/** Registers/unregisters the listeners around the traced passes. */
final class Tracing(sc: SparkContext, stream: Option[StreamSpans],
    session: org.apache.spark.sql.SparkSession) {
  private val spark = new SparkSpans
  def start(): Unit = {
    sc.addSparkListener(spark)
    stream.foreach(session.streams.addListener)
    Trace.on = true
  }
  def stop(): Unit = {
    org.apache.spark.graftbench.Bus.drain(sc)
    stream.foreach(_.flush())
    Trace.on = false
    sc.removeSparkListener(spark)
    stream.foreach(session.streams.removeListener)
  }
}
