package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Daily, GraftSession, SparkEntry}
import graft.dedup.Dedup
import graft.operators.{CciPipeline, Curation, TextAnalysis}
import graft.sources.{LocalFileEventConnector, Tables}

/** One benchmark run of one workload in one JVM (see perfbench/NOTES.md).
  *
  * Arguments (`--key value`):
  *   --workload daily|grid|curate   --base DIR (generated inputs)
  *   --root DIR (per-run scratch)    --seconds N   --trace 0|1
  *   --cores N   --t0ms EPOCH_MS (when the launcher started this JVM)
  *   --out FILE (result JSON)   --reuse-input 1
  *
  * `--reuse-input` makes every rep read the first rep's input directory,
  * which the state-crossing guard must reject (the guard's own test).
  */
object PerfBench {
  val SpanProp = "perfbench.span"

  // ------------------------------------------------------------ engine log
  final class Job(val startMs: Long, val span: String) {
    var endMs: Long = -1L
    var tasks: Int = 0
    var taskMs: Long = 0L
  }

  /** Every job, task and query execution the session reports. */
  final class EngineLog extends SparkListener with QueryExecutionListener {
    val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stageJob = mutable.Map[Int, Int]()
    val taskMs = mutable.ArrayBuffer[Long]()
    var tasks, inputB, shuffleB, outputB, spillB, planMs = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      jobs(e.jobId) = new Job(e.time, span.getOrElse(""))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val job = stageJob.get(e.stageId).flatMap(jobs.get)
      job.foreach(_.tasks += 1)
      val m = e.taskMetrics
      if (m != null) {
        job.foreach(_.taskMs += m.executorRunTime)
        taskMs += m.executorRunTime
        inputB += m.inputMetrics.bytesRead
        shuffleB += m.shuffleWriteMetrics.bytesWritten
        outputB += m.outputMetrics.bytesWritten
        spillB += m.diskBytesSpilled
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Engine-wide counters at one instant; deltas bracket the measured region. */
  final case class Snap(gcMs: Long, codegenNs: Long, jobs: Int, tasks: Long,
      inputB: Long, shuffleB: Long, outputB: Long, spillB: Long, planMs: Long, nTaskMs: Int)

  def snap(log: EngineLog): Snap = log.synchronized {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    Snap(gc, CodeGenerator.compileTime, log.jobs.size, log.tasks, log.inputB,
      log.shuffleB, log.outputB, log.spillB, log.planMs, log.taskMs.size)
  }

  // ----------------------------------------------------------------- spans
  final case class Span(name: String, id: String, startMs: Long, endMs: Long,
      wallS: Double, selfS: Double)

  final class Tracer(spark: SparkSession) {
    val spans = mutable.ArrayBuffer[Span]()
    private val stack = mutable.Stack[(String, Array[Double])]() // id, child seconds
    private var seq = 0

    /** Times `body` as one call into layer `name`; jobs it launches carry
      * the call's id as a local property. */
    def span[T](name: String)(body: => T): T = {
      seq += 1
      val id = s"$name#$seq"
      val sc = spark.sparkContext
      val outer = Option(sc.getLocalProperty(SpanProp))
      val children = Array(0.0)
      stack.push((id, children))
      sc.setLocalProperty(SpanProp, id)
      val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(SpanProp, outer.orNull)
        stack.pop()
        stack.headOption.foreach(_._2(0) += wall)
        spans += Span(name, id, ms0, System.currentTimeMillis(), wall, wall - children(0))
      }
    }
  }

  // ------------------------------------------------------------ statistics
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile with at least 10 samples above it:
    * (value, percentile, sample count); zeros when there are ≤ 10 samples. */
  def tail(xs: collection.Seq[Double]): (Double, Double, Double) = {
    val n = xs.size
    if (n <= 10) (0.0, 0.0, n.toDouble)
    else {
      val s = xs.sorted
      val pct = math.floor(100.0 * (n - 10) / n)
      val k = math.max(0, math.ceil(pct / 100.0 * n).toInt - 1) // nearest rank
      (s(k), pct, n.toDouble)
    }
  }

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L; var cur = lo
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > cur) { covered += e - math.max(s, cur); cur = e }
      }
    covered
  }

  // ---------------------------------------------------------------- run
  final class Rep(val index: Int, val input: String) {
    var jobs = 0
    var tasks = 0L
    var flagged = ""
  }

  final class Run(val spark: SparkSession, val workload: String, val base: String,
      val root: String, val seconds: Int, val traced: Boolean, val reuseInput: Boolean) {
    val log = new EngineLog
    val tracer = new Tracer(spark)
    val reps = mutable.ArrayBuffer[Rep]()
    val errors = mutable.ArrayBuffer[String]()
    val checks = mutable.LinkedHashMap[String, Boolean]()
    val seenInputs = mutable.Set[String]()
    var attempted = 0
    var failed = 0
    var constructS = 0.0
    val firsts = mutable.ArrayBuffer[Double]() // first timed call per process
    val units = mutable.ArrayBuffer[Double]()  // the workload's repeated unit

    def span[T](name: String)(body: => T): T = tracer.span(name)(body)

    /** One timed call: failures are counted, never thrown. */
    def timed(what: String)(body: => Unit): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable =>
          failed += 1
          errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      }
    }

    /** A frame-returning call, timed as construction (eager jobs included). */
    def construct(body: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      try body finally constructS += (System.nanoTime() - t0) / 1e9
    }

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    /** A fresh copy of the generated input for one rep, made outside the
      * timed region. The guard refuses an input directory any earlier rep
      * of this process has read: SessionMemo, Daily's shared runs and the
      * CCI chain caches are all keyed by directory. */
    def newRep(file: String): Rep = {
      val i = reps.size
      val dir = if (reuseInput && i > 0) reps.head.input else s"$root/rep$i/in"
      if (!seenInputs.add(dir)) {
        errors += s"guard: rep $i reuses input $dir"
        checks("guard.fresh_input") = false
      }
      Files.createDirectories(Paths.get(dir))
      val dst = Paths.get(dir, file)
      if (!Files.exists(dst)) Files.copy(Paths.get(base, file), dst)
      val r = new Rep(i, dir)
      reps += r
      r
    }

    /** Brackets one rep: drains the listener bus and records its job and
      * task counts; a rep whose counts differ from the first rep's did
      * different work, so it counts as a failed call. */
    def measureRep(r: Rep)(body: => Unit): Unit = {
      SparkBus.drain(spark.sparkContext)
      val s0 = snap(log)
      body
      SparkBus.drain(spark.sparkContext)
      val s1 = snap(log)
      r.jobs = s1.jobs - s0.jobs
      r.tasks = s1.tasks - s0.tasks
      val first = reps.head
      if (r ne first) {
        if (r.jobs != first.jobs || r.tasks != first.tasks) {
          r.flagged = s"rep ${r.index}: ${r.jobs} jobs / ${r.tasks} tasks, " +
            s"first rep ${first.jobs} / ${first.tasks}"
          errors += s"guard: ${r.flagged}"
          failed += 1
        }
      }
    }

    def cleanRep(r: Rep): Unit = {
      spark.catalog.clearCache()
      deleteTree(new File(s"$root/rep${r.index}"))
    }
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  // ---------------------------------------------------------- workloads
  /** The generated events span 2024-01-01..[[LastDay]]; the daily
    * bootstrap covers the first [[Cutoff]] days, leaving 12 trading days. */
  val Cutoff: LocalDate = LocalDate.of(2024, 1, 9)
  val LastDay: LocalDate = LocalDate.of(2024, 1, 30)
  val MinDays = 2
  /** grid: the cold first refresh plus at least one warm one. */
  val MinRefreshes = 2

  /** `daily`: one fresh workspace, bootstrapped through [[Cutoff]], then
    * one trading day at a time (orders and balance on) until the deadline,
    * at least [[MinDays]] days. */
  def daily(run: Run, deadline: Long): () => Unit = {
    import run.spark
    import spark.implicits._
    val r = run.newRep("events.parquet")
    val ws = Daily.Workspace(s"${run.root}/rep0/ws")
    // the strategy table the order step reads: generated input, not timed
    Files.createDirectories(Paths.get(ws.conditionsDir))
    Files.copy(Paths.get(run.base, "conditions.parquet"),
      Paths.get(ws.conditionsDir, "part-0.parquet"))
    val conn = new LocalFileEventConnector(r.input)
    val done = mutable.ArrayBuffer[LocalDate]()
    run.measureRep(r) {
      run.timed("daily.bootstrap") {
        run.span("daily.bootstrap")(Daily.bootstrap(spark, conn, ws, java.sql.Date.valueOf(Cutoff)))
      }.foreach(run.firsts += _)
      Daily.seedBalance(spark, ws, java.sql.Date.valueOf(Cutoff))
      val days = Iterator.iterate(Cutoff.plusDays(1))(_.plusDays(1))
        .takeWhile(!_.isAfter(LastDay)).filter(CciPipeline.isTradingDayLocal)
      days.takeWhile(_ => done.size < MinDays || System.nanoTime() < deadline).foreach { d =>
        run.timed(s"daily.run_day $d") {
          run.span("daily.run_day") {
            val dig = Daily.run(spark, conn, ws, d, d, withOrders = true, withBalance = true)
            require(dig.size == 1, s"day $d: ${dig.size} digests")
          }
        }.foreach(run.units += _)
        if (run.traced) run.span("sources.fetch_day") {
          val from = done.lastOption.getOrElse(Cutoff).plusDays(1)
          val req = conn.listKeys(spark, java.sql.Date.valueOf(d)).select($"user_id",
            lit(java.sql.Date.valueOf(from)).as("fetch_start"),
            lit(java.sql.Date.valueOf(d)).as("fetch_end"))
          run.noop(conn.fetch(spark, req))
        }
        done += d
      }
    }
    spark.catalog.clearCache()
    () => { checkDaily(run, r.input, ws, done.toSeq); run.cleanRep(r) }
  }

  /** Final CCI state ≡ one-shot `cciFromBars` over the same events, and one
    * digest row per trading day. */
  def checkDaily(run: Run, in: String, ws: Daily.Workspace, days: Seq[LocalDate]): Unit = {
    import run.spark
    import spark.implicits._
    val cols = spark.read.parquet(ws.cciDir).columns.filter(_ != "run_d").toSeq
    val got = spark.read.parquet(ws.cciDir).select(cols.map(col): _*)
    val last = java.sql.Date.valueOf(days.last)
    val want = CciPipeline.cciFromBars(
      CciPipeline.barsFromEvents(Tables.events(spark, in).filter(to_date($"ts") <= last)),
      CciPipeline.GridConfig()).select(cols.map(col): _*)
    // multiset equality: nothing left over in either direction
    run.checks("daily.cci_equals_full_recompute") =
      got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
    val dig = spark.read.parquet(ws.digestDir).agg(count(lit(1)), countDistinct($"d")).head()
    run.checks("daily.one_digest_per_day") =
      dig.getLong(0) == days.size && dig.getLong(1) == days.size
  }

  /** `grid`: the strategy refresh (r08 best-of, r09 recommendations, r10
    * candidates) from a cold chain, to the noop sink. */
  def grid(run: Run, deadline: Long): () => Unit = {
    import run.spark
    def refresh(dir: String): Unit =
      if (!run.traced) {
        run.noop(run.construct(CciPipeline.bestOf(spark, dir)))
        run.noop(run.construct(CciPipeline.recommendations(spark, dir)))
        run.noop(run.construct(CciPipeline.candidateFilter(spark, dir)))
      } else {
        run.span("sources.events")(run.noop(run.construct(Tables.events(spark, dir))))
        run.span("cci.bars")(run.noop(run.construct(CciPipeline.ohlcBars(spark, dir))))
        run.span("cci.cci")(run.noop(run.construct(CciPipeline.cci(spark, dir))))
        run.span("cci.trades")(run.noop(run.construct(CciPipeline.trades(spark, dir))))
        run.span("cci.strategy_agg")(run.noop(run.construct(CciPipeline.strategyAgg(spark, dir))))
        run.span("cci.best_of")(run.noop(run.construct(CciPipeline.bestOf(spark, dir))))
        run.span("cci.recommend") {
          run.noop(run.construct(CciPipeline.recommendations(spark, dir)))
          run.noop(run.construct(CciPipeline.candidateFilter(spark, dir)))
        }
      }
    def clean(r: Rep): Unit = { CciPipeline.dropChainCaches(spark, r.input); run.cleanRep(r) }
    var r = run.newRep("events.parquet")
    while ({
      run.measureRep(r) {
        run.timed("grid.refresh")(refresh(r.input)).foreach { s =>
          if (r.index == 0) run.firsts += s else run.units += s
        }
      }
      run.reps.size < MinRefreshes || System.nanoTime() < deadline
    }) { clean(r); r = run.newRep("events.parquet") }
    val last = r
    () => {
      CciPipeline.bestOf(spark, last.input).write.parquet(s"${run.root}/check/best_of")
      writeText(s"${run.root}/check/best_of.sql", SparkEntry.oracleSql("r08_best_of"))
      clean(last)
    }
  }

  /** `curate`: one corpus-curation pass (quality ⋈ dedup clusters). */
  def curate(run: Run, deadline: Long): () => Unit = {
    import run.spark
    val r = run.newRep("documents.parquet")
    run.measureRep(r) {
      run.timed("curate.pass") {
        if (!run.traced) run.noop(run.construct(Curation.curatedCorpus(spark, r.input)))
        else {
          run.span("text.quality")(run.noop(run.construct(TextAnalysis.qualityScore(spark, r.input))))
          run.span("dedup.clusters")(run.noop(run.construct(Dedup.dedupClusters(spark, r.input))))
          run.span("curation.curated")(run.noop(run.construct(Curation.curatedCorpus(spark, r.input))))
        }
      }.foreach { s => run.firsts += s; run.units += s }
    }
    () => {
      Curation.curatedCorpus(spark, r.input).write.parquet(s"${run.root}/check/curated")
      writeText(s"${run.root}/check/curated.sql", SparkEntry.oracleSql("p03_curated_corpus"))
      run.cleanRep(r)
    }
  }

  def writeText(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8)): Unit
  }

  // -------------------------------------------------------------- report
  val Spans: Seq[String] = Seq("daily.bootstrap", "daily.run_day", "sources.fetch_day",
    "sources.events", "cci.bars", "cci.cci", "cci.trades", "cci.strategy_agg",
    "cci.best_of", "cci.recommend", "text.quality", "dedup.clusters", "curation.curated")

  def layerMetrics(run: Run, s0: Snap, s1: Snap): Seq[(String, Double, String)] = {
    val jobs = run.log.synchronized(run.log.jobs.values.toVector)
    val byCall = jobs.groupBy(_.span)
    val spans = run.tracer.spans.groupBy(_.name)
    val perSpan = Spans.flatMap { name =>
      val calls = spans.getOrElse(name, Seq.empty).map { sp =>
        val js = byCall.getOrElse(sp.id, Vector.empty)
        val busy = unionMs(js.map(j => (j.startMs, if (j.endMs < 0) sp.endMs else j.endMs)),
          sp.startMs, sp.endMs) / 1000.0
        (sp.wallS, sp.selfS, math.max(0.0, sp.wallS - busy),
          js.map(_.taskMs).sum / 1000.0, js.size.toDouble, js.map(_.tasks).sum.toDouble)
      }
      Seq(("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"), ("task_s", "s"),
        ("jobs", "count"), ("tasks", "count")).zipWithIndex.map { case ((m, u), k) =>
        (s"$name.$m", median(calls.map(_.productElement(k).asInstanceOf[Double]).toSeq), u)
      }
    }
    val nReps = math.max(1, run.reps.size).toDouble
    val mb = 1024.0 * 1024.0
    val taskMs = run.log.synchronized(run.log.taskMs.drop(s0.nTaskMs).map(_.toDouble).toVector)
    val skew = if (taskMs.isEmpty) 0.0 else taskMs.max / math.max(1.0, median(taskMs))
    val (dt, dp, dn) = if (run.workload == "daily") tail(run.units.toSeq) else (0.0, 0.0, 0.0)
    val (rt, rp, rn) = if (run.workload == "grid") tail(run.units.toSeq) else (0.0, 0.0, 0.0)
    perSpan ++ Seq(
      ("engine.construct_s", run.constructS / nReps, "s"),
      ("engine.plan_s", (s1.planMs - s0.planMs) / 1000.0 / nReps, "s"),
      ("engine.codegen_s", (s1.codegenNs - s0.codegenNs) / 1e9 / nReps, "s"),
      ("engine.gc_s", (s1.gcMs - s0.gcMs) / 1000.0 / nReps, "s"),
      ("engine.input_mb", (s1.inputB - s0.inputB) / mb / nReps, "MB"),
      ("engine.shuffle_mb", (s1.shuffleB - s0.shuffleB) / mb / nReps, "MB"),
      ("engine.output_mb", (s1.outputB - s0.outputB) / mb / nReps, "MB"),
      ("engine.spill_mb", (s1.spillB - s0.spillB) / mb / nReps, "MB"),
      ("engine.task_skew", skew, "ratio"),
      ("engine.cached_rdds_after", run.spark.sparkContext.getPersistentRDDs.size.toDouble, "count"),
      ("day_tail_s", dt, "s"), ("day_tail_pct", dp, "%"), ("day_tail_n", dn, "count"),
      ("refresh_tail_s", rt, "s"), ("refresh_tail_pct", rp, "%"), ("refresh_tail_n", rn, "count"),
      ("guard.rep_jobs", run.reps.headOption.map(_.jobs.toDouble).getOrElse(0.0), "count"),
      ("guard.rep_tasks", run.reps.headOption.map(_.tasks.toDouble).getOrElse(0.0), "count"),
      ("reps", run.reps.size.toDouble, "count"))
  }

  /** Heap in use after full collections, once Spark's context cleaner has
    * released what the previous collection made unreachable (broadcasts,
    * shuffles and RDDs are cleaned asynchronously after a GC). */
  def heapRetainedMb(): Double = {
    def used() = {
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    // until two readings agree to within 0.5 MB (at most 6)
    Iterator.continually(used()).take(6).sliding(2)
      .find { case Seq(a, b) => math.abs(a - b) < 0.5 }.map(_.last).getOrElse(used())
  }

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      s"${jsonStr(n)}: {\"value\": ${if (v.isNaN || v.isInfinite) 0.0 else v}, \"unit\": ${jsonStr(u)}}"
    }.mkString("{", ", ", "}")

  // ---------------------------------------------------------------- main
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = opts("cores").toInt
    val root = opts("root")

    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // the first job; the input's first touch is timed
    val setupS = (System.currentTimeMillis() - opts("t0ms").toLong) / 1000.0

    val run = new Run(spark, workload, opts("base"), root, opts("seconds").toInt,
      opts.get("trace").contains("1"), opts.get("reuse-input").contains("1"))
    spark.sparkContext.addSparkListener(run.log)
    spark.listenerManager.register(run.log)
    SparkBus.drain(spark.sparkContext)
    val s0 = snap(run.log)
    val deadline = System.nanoTime() + run.seconds * 1000000000L
    // each workload returns its output check, run after the measured region
    val check = try workload match {
      case "daily" => daily(run, deadline)
      case "grid" => grid(run, deadline)
      case "curate" => curate(run, deadline)
    } catch {
      case e: Throwable =>
        run.failed += 1; run.attempted = math.max(run.attempted, 1)
        run.errors += s"$workload: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        () => ()
    }
    SparkBus.drain(spark.sparkContext)
    val s1 = snap(run.log)
    try check() catch {
      case e: Throwable =>
        run.checks("output_check_ran") = false
        run.errors += s"check: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val layers = layerMetrics(run, s0, s1)
    val heap = heapRetainedMb()
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("first_s", median(run.firsts.toSeq), "s"),
      ("p50_s", median(run.units.toSeq), "s"),
      ("heap_retained_mb", heap, "MB"))
    val checks = run.checks.map { case (k, v) => s"${jsonStr(k)}: $v" }.mkString("{", ", ", "}")
    writeText(opts("out"),
      s"""{"attempted": ${run.attempted}, "failed": ${run.failed}, "checks": $checks,
         |"errors": [${run.errors.map(jsonStr).mkString(", ")}],
         |"reps": [${run.reps.map(r => s"""{"rep": ${r.index}, "input": ${jsonStr(r.input)}, "jobs": ${r.jobs}, "tasks": ${r.tasks}, "flagged": ${jsonStr(r.flagged)}}""").mkString(", ")}],
         |"units_s": [${run.units.mkString(", ")}],
         |"end_to_end": ${metricsJson(e2e)},
         |"per_layer": ${metricsJson(layers)}}""".stripMargin)
    spark.stop()
  }
}
