package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a harness call into a layer (`layer` set here) or
  * a listener-derived job, planning phase or micro-batch (`layer` left
  * empty for jobs; the report attributes them by call site).
  * Times are epoch microseconds.
  */
final case class Span(name: String, layer: String, startUs: Long, endUs: Long,
                      attrs: Map[String, Any] = Map.empty)

/** Clock shared by harness spans and listener events: listener events
  * carry epoch milliseconds, so harness spans use the same epoch base
  * with nanoTime resolution.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** Spans and counters of the traced run, kept in memory until exit.
  * Listeners are attached around one traced operation at a time, so an
  * untraced operation pays nothing; `detach` drains the listener bus
  * first, so every event of the operation is in before the next starts.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = new ArrayBuffer[Span]
  private val listenerSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]

  // per-job accumulation, keyed by job id; stage id -> job id
  private final class JobAcc(val startMs: Long, val short: String,
                             val long: String, val stream: Boolean) {
    var stages = 0L; var tasks = 0L; var taskMs = 0L; var schedDelayMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var gcMs = 0L; var peakMem = 0L; var input = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobAcc]
  private val stageJob = new ConcurrentHashMap[Int, Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage (highest id) carries the job's call site
      val site = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val props = Option(e.properties)
      val stream = props.exists(_.getProperty("sql.streaming.queryId") != null)
      jobs.put(e.jobId, new JobAcc(e.time, site.map(_.name).getOrElse(""),
        site.map(_.details).getOrElse(""), stream))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(a => a.synchronized { a.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      for (a <- acc; m <- Option(e.taskMetrics); i <- Option(e.taskInfo)) a.synchronized {
        a.tasks += 1
        a.taskMs += m.executorRunTime
        // Spark UI's scheduler delay: task wall not spent running,
        // (de)serializing or fetching the result
        a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.input += m.inputMetrics.bytesRead
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { a =>
        listenerSpans.add(Span("job", "", a.startMs * 1000, e.time * 1000, Map(
          "callsite_short" -> a.short,
          "callsite_long" -> a.long.linesIterator.take(6).mkString("\n"),
          "stream" -> a.stream, "stages" -> a.stages, "tasks" -> a.tasks,
          "task_ms" -> a.taskMs, "sched_delay_ms" -> a.schedDelayMs,
          "shuffle_write_bytes" -> a.shuffleWrite,
          "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
          "gc_ms" -> a.gcMs, "peak_exec_mem_bytes" -> a.peakMem,
          "input_bytes" -> a.input)))
      }
  }

  private val planningListener = new QueryExecutionListener {
    private def phases(funcName: String, qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        if (phase != "parsing")
          listenerSpans.add(Span(phase, "catalyst", s.startTimeMs * 1000,
            s.endTimeMs * 1000, Map("func" -> funcName)))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(funcName, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      val ops = p.stateOperators.toSeq
      listenerSpans.add(Span("micro_batch", "streaming", startUs,
        startUs + d.getOrElse("triggerExecution", 0L) * 1000, Map(
          "input_rows" -> p.numInputRows,
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
          "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_rows_total" -> ops.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum)))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planningListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planningListener)
    spark.streams.removeListener(streamListener)
    jobs.clear(); stageJob.clear()
    var s = listenerSpans.poll()
    while (s != null) { spans += s; s = listenerSpans.poll() }
  }

  /** A harness span around one call into `layer`. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val t0 = Clock.nowUs
    try body finally spans += Span(name, layer, t0, Clock.nowUs)
  }
}

/** Tracing switched off: the same call shape, no bookkeeping. */
object Tracer {
  def span[T](t: Option[Tracer], name: String, layer: String)(body: => T): T =
    t match {
      case Some(tr) => tr.span(name, layer)(body)
      case None     => body
    }
}

/** Codegen compilations since the last call, from Spark's own
  * CodegenMetrics histogram. Its reservoir keeps every sample until it
  * holds 1028, so the exact sum is known until then; past that the
  * delta is the new count times the reservoir mean.
  */
final class CodegenDelta {
  private val h = CodegenMetrics.METRIC_COMPILATION_TIME
  private def state: (Long, Double, Double) = {
    val snap = h.getSnapshot
    (h.getCount, snap.getValues.map(_.toDouble).sum, snap.getMean)
  }
  private var last = state
  /** (classes compiled, compile ms) since the previous call. */
  def next(): (Long, Double) = {
    val now = state
    val n = now._1 - last._1
    val ms = if (now._1 <= 1028) now._2 - last._2 else n * now._3
    last = now
    (n, ms)
  }
}
