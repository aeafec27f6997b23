package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw layer records of one traced pass, taken from Spark's public
  * listener APIs: jobs and per-stage task metrics from a
  * [[SparkListener]], planning phases of every action from a
  * [[QueryExecutionListener]], and micro-batch progress from a
  * [[StreamingQueryListener]]. Records hold only timestamps and sums;
  * attributing them to queries is left to the reader of the output.
  *
  * Listener events arrive asynchronously, so [[finish]] drains both
  * listener queues before the listeners are removed and the records read.
  */
final class Trace private (spark: SparkSession) {
  private final class StageAcc {
    var tasks, failed = 0
    var runMs, cpuNs, gcMs, deserMs = 0L
    var inBytes, inRows, swBytes, srBytes, fetchWaitMs = 0L
    var spillMem, spillDisk, outBytes, outRows = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val lock = new Object
  private val jobs = mutable.ArrayBuffer.empty[Json.Obj]
  private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stageAccs = mutable.Map.empty[(Int, Int), StageAcc]
  private val stages = mutable.ArrayBuffer.empty[Json.Obj]
  private val actions = mutable.ArrayBuffer.empty[Json.Obj]
  private val batches = mutable.ArrayBuffer.empty[Json.Obj]
  private val streamsStarted = mutable.Set.empty[java.util.UUID]
  private val streamsEnded = mutable.Set.empty[java.util.UUID]
  private val drainToken = java.util.UUID.randomUUID().toString
  private var drainJob = -1
  private val drained = new CountDownLatch(1)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      if (props.exists(p => p.getProperty(Trace.DrainKey) == drainToken)) drainJob = e.jobId
      else jobStarts(e.jobId) = (e.time, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (e.jobId == drainJob) drained.countDown()
      else jobStarts.remove(e.jobId).foreach { case (start, stageIds) =>
        jobs += Json.Obj("id" -> e.jobId, "start_ms" -> start, "end_ms" -> e.time,
          "stage_ids" -> stageIds, "ok" -> (e.jobResult == JobSucceeded))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val acc = stageAccs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      acc.tasks += 1
      if (e.reason != Success) acc.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.deserMs += m.executorDeserializeTime
        acc.inBytes += m.inputMetrics.bytesRead
        acc.inRows += m.inputMetrics.recordsRead
        acc.swBytes += m.shuffleWriteMetrics.bytesWritten
        acc.srBytes += m.shuffleReadMetrics.totalBytesRead
        acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        acc.spillMem += m.memoryBytesSpilled
        acc.spillDisk += m.diskBytesSpilled
        acc.outBytes += m.outputMetrics.bytesWritten
        acc.outRows += m.outputMetrics.recordsWritten
        acc.taskMs += m.executorRunTime
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val info = e.stageInfo
      val acc = stageAccs.remove((info.stageId, info.attemptNumber())).getOrElse(new StageAcc)
      stages += Json.Obj("id" -> info.stageId, "attempt" -> info.attemptNumber(),
        "submit_ms" -> info.submissionTime, "end_ms" -> info.completionTime,
        "tasks" -> acc.tasks, "failed_tasks" -> acc.failed, "run_ms" -> acc.runMs,
        "cpu_ns" -> acc.cpuNs, "gc_ms" -> acc.gcMs, "deser_ms" -> acc.deserMs,
        "in_bytes" -> acc.inBytes, "in_rows" -> acc.inRows,
        "shuffle_write_bytes" -> acc.swBytes, "shuffle_read_bytes" -> acc.srBytes,
        "fetch_wait_ms" -> acc.fetchWaitMs, "spill_mem_bytes" -> acc.spillMem,
        "spill_disk_bytes" -> acc.spillDisk, "out_bytes" -> acc.outBytes,
        "out_rows" -> acc.outRows, "task_ms" -> acc.taskMs.toSeq)
    }
  }

  private val actionListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
      lock.synchronized {
        actions += Json.Obj("func" -> func, "start_ms" -> start, "ok" -> ok,
          "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"))
      }
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      lock.synchronized { streamsStarted += e.runId }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      lock.synchronized { streamsEnded += e.runId }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      // progress without addBatch is a trigger that found no new data
      if (durations.contains("addBatch")) {
        val ops = p.stateOperators.toSeq
        lock.synchronized {
          batches += Json.Obj("run_id" -> p.runId.toString, "batch_id" -> p.batchId,
            "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "duration_ms" -> durations, "input_rows" -> p.numInputRows,
            "state_rows" -> ops.map(_.numRowsTotal).sum,
            "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
            "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
            "late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum)
        }
      }
    }
  }

  private def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event raised so far has reached the listeners,
    * remove them, and return the records. The shared listener queue is
    * FIFO, so seeing the end of a marker job submitted now means every
    * earlier job, stage, task and action event was delivered; streaming
    * events travel on their own queue and are drained by waiting for the
    * termination of every stream seen to start.
    */
  def finish(): Json.Obj = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.DrainKey, drainToken)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.DrainKey, null)
    drained.await(60, TimeUnit.SECONDS)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (lock.synchronized(!streamsStarted.subsetOf(streamsEnded)) && System.nanoTime() < deadline)
      Thread.sleep(5)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(actionListener)
    spark.streams.removeListener(streamListener)
    lock.synchronized {
      Json.Obj("jobs" -> jobs.toSeq, "stages" -> stages.toSeq, "actions" -> actions.toSeq,
        "batches" -> batches.toSeq)
    }
  }
}

object Trace {
  private val DrainKey = "perfbench.drain"

  def start(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    t.install()
    t
  }
}
