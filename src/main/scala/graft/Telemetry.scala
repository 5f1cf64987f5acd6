package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-run engine telemetry — the Spark-native analogue of the
  * reference's psutil resource monitor (`daily_function.py:840-871`
  * `monitor_resources`: a background thread logging CPU and memory every
  * interval, started per run at `:858`). A distributed engine's resource
  * story lives in its OWN metrics system, not `/proc` on one box: a
  * [[SparkListener]] accumulates per-stage task counts, executor task
  * time, GC time, input volume, shuffle read/write volume and peak
  * execution memory across every job an action triggers, and [[measure]]
  * surfaces them as one `(metric, value)` row per counter — the r23
  * digest convention applied to the engine itself. On a 1000-executor
  * cluster the same listener aggregates cluster-wide totals (the event
  * bus is how Spark's own UI gets them); nothing here reads
  * driver-local OS state.
  */
object Telemetry {

  /** Accumulating listener: cheap atomic adds on the listener bus; no
    * per-event allocation, so attaching it does not perturb the run. */
  final class RunListener extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    val taskTimeMs = new AtomicLong
    val gcTimeMs = new AtomicLong
    val inputBytes = new AtomicLong
    val shuffleReadBytes = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    val peakExecMemory = new AtomicLong
    val events = new AtomicLong

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.incrementAndGet(); events.incrementAndGet(): Unit
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      // a FAILED stage attempt also emits onStageCompleted, and its
      // resubmission emits another — counting both would double the
      // attempt's tasks/bytes on any run with a fetch-failure retry.
      // Count the event (quiescence watches the stream) but fold only
      // successful attempts into the digest.
      if (info.failureReason.isDefined) { events.incrementAndGet(); return }
      val m = info.taskMetrics
      stages.incrementAndGet()
      tasks.addAndGet(info.numTasks.toLong)
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        gcTimeMs.addAndGet(m.jvmGCTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        peakExecMemory.updateAndGet(p => math.max(p, m.peakExecutionMemory)): Unit
      }
      events.incrementAndGet(): Unit
    }
  }

  private val QuietMs = 300L
  private val MaxWaitMs = 10000L

  /** Run `df` to completion under a fresh listener and return its
    * telemetry digest. The listener bus is asynchronous, so after the
    * action returns we wait for the event stream to go QUIESCENT (no new
    * job/stage event for [[QuietMs]], bounded by [[MaxWaitMs]]) — the
    * public equivalent of the private `listenerBus.waitUntilEmpty` that
    * Spark's own tests use. */
  def measure(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    val l = new RunListener
    spark.sparkContext.addSparkListener(l)
    try {
      df.write.format("noop").mode("overwrite").save()
      // quiescence needs a FLOOR: the action above always schedules at
      // least one job, so "no new event for QuietMs" only counts once a
      // job-end has actually been observed — otherwise a listener bus
      // lagging more than QuietMs behind save() would yield an all-zero
      // digest. The deadline still bounds the wait if delivery stalls.
      val deadline = System.nanoTime() + MaxWaitMs * 1000000L
      var last = -1L
      var stable = false
      while (!stable && System.nanoTime() < deadline) {
        val seen = l.events.get()
        if (seen == last && l.jobs.get() > 0) stable = true
        else { last = seen; Thread.sleep(QuietMs) }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    Seq(
      ("n_jobs", l.jobs.get().toLong),
      ("n_stages", l.stages.get().toLong),
      ("n_tasks", l.tasks.get()),
      ("task_time_ms", l.taskTimeMs.get()),
      ("gc_time_ms", l.gcTimeMs.get()),
      ("input_bytes", l.inputBytes.get()),
      ("shuffle_read_bytes", l.shuffleReadBytes.get()),
      ("shuffle_write_bytes", l.shuffleWriteBytes.get()),
      ("peak_exec_memory_bytes", l.peakExecMemory.get()))
      .toDF("metric", "value").orderBy($"metric")
  }

  /** r38 driver entry: the flagship q01 aggregation measured under the
    * listener. Values are environment-dependent (task time, bytes), so
    * the row is rows-only by design; TelemetrySpec asserts the structural
    * invariants (a shuffling scan must report jobs, tasks, input bytes
    * and shuffle bytes on both sides of the exchange). */
  def telemetryQuery(spark: SparkSession, dir: String): DataFrame =
    measure(spark, graft.operators.Relational.q01PricingSummary(spark, dir))
}
