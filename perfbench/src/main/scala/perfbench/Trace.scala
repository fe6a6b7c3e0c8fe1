package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One span: a named interval with a parent. Times are epoch seconds. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** Counters for one benchmark job, summed from task and progress events. */
final class JobCounters(val traced: Boolean) {
  var jobs, stages, tasks = 0L
  var cpuNs, mapCpuNs, reduceCpuNs = 0L
  var runMs, gcMs, fetchWaitMs = 0L
  var shuffleWriteNs, shuffleBytes, shuffleRecords = 0L
  var inputBytes, spillBytes, peakExecBytes = 0L
  val reduceReadBytes = mutable.ArrayBuffer.empty[Long]
  var mapStageS, reduceStageS = 0.0
  var batches, rowsIn, stateRows, stateBytes = 0L
  var batchMs, addBatchMs, planMs, logMs, stateCommitMs = 0L

  def json: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "cpu_s" -> cpuNs / 1e9, "map_cpu_s" -> mapCpuNs / 1e9,
    "reduce_cpu_s" -> reduceCpuNs / 1e9, "run_s" -> runMs / 1e3,
    "gc_s" -> gcMs / 1e3, "fetch_wait_s" -> fetchWaitMs / 1e3,
    "shuffle_write_s" -> shuffleWriteNs / 1e9,
    "shuffle_bytes" -> shuffleBytes, "shuffle_records" -> shuffleRecords,
    "input_bytes" -> inputBytes, "spill_bytes" -> spillBytes,
    "peak_exec_bytes" -> peakExecBytes,
    "reduce_read_bytes" -> Json.arr(reduceReadBytes.toSeq),
    "map_stage_s" -> mapStageS, "reduce_stage_s" -> reduceStageS,
    "batches" -> batches, "rows_in" -> rowsIn, "state_rows" -> stateRows,
    "state_bytes" -> stateBytes, "batch_s" -> batchMs / 1e3,
    "add_batch_s" -> addBatchMs / 1e3, "plan_s" -> planMs / 1e3,
    "log_s" -> logMs / 1e3, "state_commit_s" -> stateCommitMs / 1e3)
}

/** The benchmark's probe on the engine, attached through Spark's public
  * listener APIs only. Jobs are tied to benchmark jobs by job group (set by
  * the timing loop before each call) and streaming runs by run id, which
  * is bound to the current benchmark job when the query starts.
  *
  * With `traced` false it only sums executor CPU per job (an end-to-end
  * metric). With `traced` true it also keeps every counter and records
  * stage and micro-batch spans under the job's span. Everything stays in
  * memory until the run ends; read it after `SparkContext.stop()`, which
  * drains the listener bus.
  */
final class Trace(traced: Boolean) extends SparkListener {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis() / 1e3
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e9

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  def spans: Seq[Span] = synchronized(spanBuf.toSeq)

  /** Open a span: returns its id and a function that closes it and returns
    * its duration in seconds. */
  def open(name: String, parent: Int): (Int, () => Double) = synchronized {
    val id = nextId; nextId += 1
    val start = now()
    val keep = detail
    (id, () => { val end = now(); if (keep) add(id, parent, name, start, end); end - start })
  }
  /** Whether jobs begun from now on are traced in detail. A traced run
    * turns it off for every other pass to measure the tracing overhead. */
  @volatile var detail: Boolean = traced

  private def add(id: Int, parent: Int, name: String, start: Double, end: Double): Unit =
    synchronized(spanBuf += Span(id, parent, name, start, end))
  private def child(parent: Int, name: String, start: Double, end: Double): Unit =
    synchronized { add(nextId, parent, name, start, end); nextId += 1 }

  /** Benchmark job id → (span id, counters). */
  private val byJob = new ConcurrentHashMap[String, (Int, JobCounters)]()
  private val groupToJob = new ConcurrentHashMap[String, String]()
  private val stageToJob = new ConcurrentHashMap[Int, String]()
  // Stage kind, learnt from its tasks (task ends precede stage completion).
  private val mapStages = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var current: String = ""

  def counters(job: String): Option[JobCounters] = Option(byJob.get(job)).map(_._2)

  /** Register the benchmark job whose Spark jobs carry `group`. */
  def begin(job: String, group: String, spanId: Int): Unit = {
    byJob.put(job, (spanId, new JobCounters(detail)))
    groupToJob.put(group, job)
    current = job
  }

  private def jobOf(stageId: Int) = Option(stageToJob.get(stageId)).flatMap(j => Option(byJob.get(j)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(g => Option(groupToJob.get(g))).foreach { job =>
      e.stageIds.foreach(stageToJob.put(_, job))
      val c = byJob.get(job)._2
      c.synchronized { c.jobs += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    jobOf(info.stageId).filter(_._2.traced).foreach { case (span, c) =>
      val start = info.submissionTime.getOrElse(0L) / 1e3
      val end = info.completionTime.getOrElse(0L) / 1e3
      val isMap = mapStages.contains(info.stageId)
      c.synchronized {
        c.stages += 1
        if (isMap) c.mapStageS += end - start else c.reduceStageS += end - start
      }
      child(span, if (isMap) "stage.map" else "stage.result", start, end)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) jobOf(e.stageId).foreach { case (_, c) => c.synchronized {
      c.cpuNs += m.executorCpuTime
      if (c.traced) {
        val isMap = e.taskType == "ShuffleMapTask"
        if (isMap) mapStages.add(e.stageId)
        c.tasks += 1
        if (isMap) c.mapCpuNs += m.executorCpuTime
        else c.reduceCpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        val sr = m.shuffleReadMetrics
        c.fetchWaitMs += sr.fetchWaitTime
        if (!isMap) c.reduceReadBytes += sr.totalBytesRead
        val sw = m.shuffleWriteMetrics
        c.shuffleWriteNs += sw.writeTime
        c.shuffleBytes += sw.bytesWritten
        c.shuffleRecords += sw.recordsWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
      }
    }}
  }

  /** Streaming progress, attributed through the run id. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    // Called synchronously from start(), on the thread running the job.
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      groupToJob.put(e.runId.toString, current)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      Option(groupToJob.get(p.runId.toString)).flatMap(j => Option(byJob.get(j)))
          .filter(_._2.traced).foreach {
        case (span, c) =>
          def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3
          c.synchronized {
            c.batches += 1
            c.rowsIn += p.numInputRows
            c.batchMs += d("triggerExecution")
            c.addBatchMs += d("addBatch")
            c.planMs += d("queryPlanning")
            c.logMs += d("walCommit") + d("commitOffsets")
            // State size is the largest total over the run's batches.
            val ops = p.stateOperators
            c.stateCommitMs += ops.map(_.commitTimeMs).sum
            c.stateRows = math.max(c.stateRows, ops.map(_.numRowsTotal).sum)
            c.stateBytes = math.max(c.stateBytes, ops.map(_.memoryUsedBytes).sum)
          }
          child(span, "microbatch", start, start + d("triggerExecution") / 1e3)
      }
    }
  }
}
