package graft

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-run engine telemetry — the Spark-native analogue of the
  * reference's psutil resource monitor (`daily_function.py:840-871`
  * `monitor_resources`: a background thread logging CPU and memory every
  * interval, started per run at `:858`). A distributed engine's resource
  * story lives in its OWN metrics system, not `/proc` on one box: a
  * [[SparkListener]] records the jobs a body starts and accumulates
  * per-stage task counts, executor task time, GC time, input volume,
  * shuffle read/write volume and peak execution memory, and [[measure]]
  * surfaces them as one `(metric, value)` row per counter — the r23
  * digest convention applied to the engine itself. On a 1000-executor
  * cluster the same listener aggregates cluster-wide totals (the event
  * bus is how Spark's own UI gets them); nothing here reads
  * driver-local OS state.
  */
object Telemetry {

  /** A Spark job as its start event reports it. */
  final case class JobStart(id: Int, stageNames: Seq[String], properties: Properties) {
    def property(key: String): Option[String] = Option(properties.getProperty(key))
  }

  /** What [[record]] saw of its body: the start of every job it ran, and
    * the metrics of every successful stage attempt, summed (peak
    * execution memory: the largest stage's). */
  final case class Recording(jobs: Seq[JobStart], stages: Int, tasks: Long,
      taskTimeMs: Long, gcTimeMs: Long, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, peakExecMemory: Long)

  private val FenceProp = "graft.telemetry.fence"
  private val FenceWaitSeconds = 60L

  /** Listener of one [[record]] call. The bus calls a listener from one
    * thread, in posting order, so `seen` needs no lock: it is written
    * only before the fence job's start opens `fenced`, and read only
    * after. Every event from the fence's start onward is ignored, so the
    * fence job counts for nothing. */
  private final class Recorder(fence: String) extends SparkListener {
    val fenced = new CountDownLatch(1)
    var seen = Recording(Vector.empty, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (fenced.getCount == 0) return
      val p = Option(e.properties).getOrElse(new Properties)
      if (p.getProperty(FenceProp) == fence) fenced.countDown()
      else seen = seen.copy(jobs = seen.jobs :+ JobStart(e.jobId, e.stageInfos.map(_.name), p))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      // a FAILED stage attempt also emits onStageCompleted, and its
      // resubmission emits another — counting both would double the
      // attempt's tasks/bytes on any run with a fetch-failure retry.
      if (info.failureReason.isDefined || fenced.getCount == 0) return
      val s = seen.copy(stages = seen.stages + 1, tasks = seen.tasks + info.numTasks)
      val m = info.taskMetrics
      seen = if (m == null) s else s.copy(
        taskTimeMs = s.taskTimeMs + m.executorRunTime,
        gcTimeMs = s.gcTimeMs + m.jvmGCTime,
        inputBytes = s.inputBytes + m.inputMetrics.bytesRead,
        shuffleReadBytes = s.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        peakExecMemory = math.max(s.peakExecMemory, m.peakExecutionMemory))
    }
  }

  /** Runs `body` and records the Spark jobs it starts, from any thread,
    * and the metrics of their successful stages. The listener bus is
    * asynchronous but delivers events in order, so once the start of a
    * one-task fence job run after `body` arrives, every earlier event has
    * been seen. A fence start that never arrives (the bus dropped it)
    * fails the call rather than returning a short recording. */
  def record(spark: SparkSession)(body: => Any): Recording = {
    val sc = spark.sparkContext
    val fence = java.util.UUID.randomUUID().toString
    val r = new Recorder(fence)
    sc.addSparkListener(r)
    try {
      body
      sc.setLocalProperty(FenceProp, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceProp, null)
      if (!r.fenced.await(FenceWaitSeconds, TimeUnit.SECONDS))
        throw new IllegalStateException(
          s"the fence job's start did not reach the listener within $FenceWaitSeconds s")
    } finally sc.removeSparkListener(r)
    r.seen
  }

  /** Run `df` to completion under [[record]] and return its telemetry
    * digest. */
  def measure(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    val r = record(spark)(df.write.format("noop").mode("overwrite").save())
    Seq(
      ("n_jobs", r.jobs.size.toLong),
      ("n_stages", r.stages.toLong),
      ("n_tasks", r.tasks),
      ("task_time_ms", r.taskTimeMs),
      ("gc_time_ms", r.gcTimeMs),
      ("input_bytes", r.inputBytes),
      ("shuffle_read_bytes", r.shuffleReadBytes),
      ("shuffle_write_bytes", r.shuffleWriteBytes),
      ("peak_exec_memory_bytes", r.peakExecMemory))
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
