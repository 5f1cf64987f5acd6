package graft
import org.apache.spark.sql.DataFrame

/** Per-query benchmark with FULL materialization: every result is written
  * to the `noop` sink, so projections, window columns and final sorts all
  * execute. (A `count()` action lets Catalyst prune unused projections and
  * eliminate sorts, under-measuring projection-heavy queries.)
  *
  * The CCI chain's shared persisted subtrees (cci → trades → strategyAgg)
  * are warmed ONCE up front and reported as their own `cache_build` entry:
  * per-query numbers are then marginal costs and independent of query
  * order, while the total still includes all work. `SPARK_GRAFT_ONLY=q01,…`
  * skips the warm-up so isolated profiling numbers include the chain build
  * (comparable with cold single-query runs). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.plainBuilder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(fn: => Unit): Double =
      try { val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        // a failed query must stand out as -1, not masquerade as a timing
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }

    // Min-of-N protocol (round-11): one run per entry per sweep was below
    // this host's noise floor — identical code swung single entries 2.9 →
    // 28.6 s across same-day sweeps, so a bench that runs each entry once
    // cannot adjudicate its own regressions. Each query entry now runs 3
    // times (reps beyond the 2nd are skipped once an entry has spent
    // > 30 s so the heavy tail doesn't triple the sweep) and reports the
    // per-entry MINIMUM — the protocol BASELINE.md already adopted for
    // the replica/engine pair.
    // All reps land in BENCH_LOCAL.json ("reps") for spread inspection.
    // Warm-up entries can't just re-run (a 2nd call returns the session
    // memo, not the build) — they use timedColdReps below, whose reps 2+
    // drop the entry's own memo/caches and rebuild for real.
    val maxReps = 3
    val repBudgetSec = 30.0
    val allReps = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    def timedMin(name: String)(fn: => Unit): Double = {
      val ts = scala.collection.mutable.ArrayBuffer[Double]()
      var cum = 0.0
      var failed = false
      var i = 0
      while (i < maxReps && !failed && (i < 2 || cum <= repBudgetSec)) {
        val t = timed(name)(fn)
        if (t < 0) failed = true else { ts += t; cum += t }
        i += 1
      }
      allReps(name) = ts.toSeq
      if (failed) -1.0 else ts.min
    }
    // Cold-entry reps (round-13): rep 1 is the memoized COLD build (the
    // entry's meaning, and the reported value — comparable across
    // rounds); reps 2+ run `rep`, the fresh-workspace re-orchestration of
    // the same mode, so the reps array makes the cold number's swing
    // adjudicable against a repeatable twin instead of standing alone.
    def timedColdReps(name: String)(cold: => Unit)(rep: => Unit): Double = {
      val ts = scala.collection.mutable.ArrayBuffer[Double]()
      ts += timed(name)(cold)
      var cum = math.max(0.0, ts.head)
      var i = 1
      while (i < maxReps && ts.forall(_ >= 0) && (i < 2 || cum <= repBudgetSec)) {
        val t = timed(name)(rep)
        ts += t; cum += math.max(0.0, t)
        i += 1
      }
      allReps(name) = ts.toSeq
      if (ts.exists(_ < 0)) -1.0 else ts.head
    }

    // SPARK_GRAFT_ONLY=q01,q03 limits the run (profiling); default = all.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Round-14: the three build entries were the bench's last SINGLE-RUN
    // numbers — a driver-sweep swing (round 13: dedup_build 0.95 → 15.5 s)
    // could not be separated from host contention. Each now carries
    // dropped-memo/fresh-workspace rebuild reps: rep 1 stays the memoized
    // COLD build (the entry's meaning, comparable across rounds); reps 2+
    // release the entry's own cached state and rebuild it, leaving the
    // warm state in place for the query entries that follow.
    // One ordered table serves both modes: the sweep runs every entry;
    // ONLY mode runs the named ones (so a single-query profile includes
    // its own chain build) — the scaled-SF rehearsals need daily_rebuild
    // et al. without the sweep. Order matters (ADVICE round-14): builds
    // first, daily_rebuild last — the rebuild reads the CCI chain, so
    // running it before cache_build pre-warms the chain and cache_build's
    // rep 1 stops being the cross-round cold build.
    val builds: Seq[(String, () => Double)] = Seq(
      "cache_build" -> (() => timedColdReps("cache_build")(
        materialize(operators.CciPipeline.strategyAgg(spark, sfDir))) {
        operators.CciPipeline.dropChainCaches(spark, sfDir)
        materialize(operators.CciPipeline.strategyAgg(spark, sfDir))
      }),
      // model fits (ALS / KMeans / LBFGS) land here, not in ml01–ml04:
      // a testdata regen invalidates the model workspace and would
      // otherwise move ~25 s of refit into whichever ml query runs
      // first (the round-7 ml04 anomaly).
      // MEASUREMENT FIX (round-17, VERDICT r16 "what's wrong" #1):
      // rep 1 used to be warmFit — a LOAD when a prior run on the
      // same host left /tmp/graft_models warm, a full refit on a
      // fresh host, so the entry measured /tmp state, not code
      // (round 15: 1.93 s load; round 16: 23.93 s fits, charged as a
      // 12× "regression"). Every rep now clears this corpus's model
      // workspace and re-pays the four real fits (rebuildFit), so
      // the number is the same work on every host every round. The
      // load path the old rep-1 sometimes measured is its own
      // `model_load` entry below (additive).
      "fit_build" -> (() => timedMin("fit_build")(
        ml.Features.rebuildFit(spark, sfDir))),
      // serve startup: drop in-memory memos, reload the persisted
      // models through MLlib's readers. The untimed warmFit first makes
      // sure the workspace exists — in ONLY mode fit_build may not have
      // run first.
      "model_load" -> { () =>
        ml.Features.warmFit(spark, sfDir)
        timedMin("model_load") {
          ml.Features.clearMemos()
          ml.Features.warmFit(spark, sfDir)
        }
      },
      // the dedup block's shared doc-shingle cache, warmed as its own
      // entry for the same reason (the round-9 d02↔d07 swap)
      "dedup_build" -> (() => timedColdReps("dedup_build")(
        materialize(graft.dedup.Dedup.sharedShingles(spark, sfDir))) {
        graft.dedup.Dedup.sharedShingles(spark, sfDir).unpersist(true)
        materialize(graft.dedup.Dedup.sharedShingles(spark, sfDir))
      }),
      // the composed daily product's two orchestrated week runs
      // (fixed-slice and balance-fed sizing), shared by the r32/r34/
      // r36 gates — warmed here so the bootstrap + day-loop
      // orchestration cost is its own entry instead of landing on
      // whichever daily gate happens to run first. SPLIT entries
      // (round-12): the combined daily_build was 41% of the headline
      // and single-run — a swing could not be localized to a mode.
      // The memoized builds still run once each (a 2nd call returns
      // the memo), but daily_rebuild re-runs the fresh-workspace
      // fixed-mode orchestration under the min-of-N protocol, so the
      // orchestration cost that actually swung is now adjudicable.
      "daily_build_fix" -> (() => timedColdReps("daily_build_fix")(
        Daily.sharedDailyRun(spark, sfDir, balanceFed = false): Unit)(
        Daily.rebuildDailyRun(spark, sfDir, balanceFed = false))),
      "daily_build_bal" -> (() => timedColdReps("daily_build_bal")(
        Daily.sharedDailyRun(spark, sfDir, balanceFed = true): Unit)(
        Daily.rebuildDailyRun(spark, sfDir, balanceFed = true))),
      "daily_rebuild" -> (() => timedMin("daily_rebuild")(
        Daily.rebuildDailyRun(spark, sfDir))))
    // Mixed-mode misread guard (round-15, ADVICE): naming a BUILD entry
    // and a query together warms the shared chain before the query runs,
    // so the query's reps are warm-chain numbers while still looking like
    // an isolated cold profile. Legal (the scaled rehearsals do it on
    // purpose) — but say so, so a profile reader can't misfile the number.
    only.foreach { names =>
      val named = names.intersect(builds.map(_._1).toSet)
      val qs = names.filter(SparkEntry.queries.contains)
      if (named.nonEmpty && qs.nonEmpty)
        System.err.println(s"[bench] WARNING: SPARK_GRAFT_ONLY mixes build " +
          s"entries (${named.toSeq.sorted.mkString(",")}) with queries " +
          s"(${qs.toSeq.sorted.mkString(",")}): the builds warm shared state " +
          "first, so the query numbers are WARM-chain, not isolated-cold.")
    }
    // deterministic name order: numbers are comparable across runs (Map
    // hash order made warm-cache attribution depend on the run)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val warm = builds.collect {
      case (n, f) if only.forall(_.contains(n)) => n -> f() }
    val queryResults = selected.map { case (name, fn) =>
      name -> timedMin(name)(materialize(fn(spark, sfDir)))
    }

    // Headline = the query surface plus the build entries. The output
    // keeps its "demos"/"demos_total" keys (an empty map and zero) so
    // consumers of the format see the same key set.
    val headline = warm ++ queryResults
    // total sums SUCCESSFUL entries only: a failed query's -1 marker stays
    // visible in the per-query map but must not subtract from the total
    // (round 7: 39 × -1 made per-query times "sum past" the total and the
    // top-40 fallback printed "other": -13.07)
    val total = headline.map(_._2).filter(_ >= 0).sum
    val nFailed = headline.count(_._2 < 0)
    // Self-adjudicating headline (round-15, VERDICT task 2): `value`
    // keeps its cross-round meaning (cold rep-1 for the build entries +
    // min-of-N for queries), but a single contended cold rep could make
    // it read as a +15% regression that only the reps arrays could
    // dismiss. Emit the decomposition as first-class fields:
    //   cold_total   = value's sum, named for what it is
    //   steady_total = sum of each entry's MINIMUM rep — the number a
    //                  warm, uncontended host would produce; PERF.md's
    //                  cross-round table reads THIS one
    val steadyTotal = headline.flatMap { case (n, v) =>
      if (v < 0) None else allReps.get(n).filter(_.nonEmpty).map(_.min).orElse(Some(v))
    }.sum
    // headline "value" is NULL when anything failed: a round that fails
    // queries sums fewer entries, and a consumer comparing totals without
    // checking `failed` would read the regression as a speed-up. The
    // successful-entries sum stays available as "succeeded_total".
    def totalJson(f: Double => String): String =
      if (nFailed > 0) "null" else f(total)
    // The driver keeps only the LAST 2000 chars of stdout and tries to
    // parse one JSON line out of them; sbt's "[success] Total time..."
    // trailer eats ~80 of those. A full-precision 70-query map is ~3 KB and
    // never fits (BENCH_r01/r02 both recorded parsed: null). Emit a compact
    // line that provably fits, degrading decimals if the query set grows;
    // full precision goes to BENCH_LOCAL.json (committed with the repo).
    def fmt(qs: Seq[(String, Double)], dec: Int): String =
      qs.map { case (k, v) => "\"" + k + "\":" + s"%.${dec}f".format(v) }
        .mkString("{", ",", "}")
    val sfName = new java.io.File(sfDir).getName
    def line(dec: Int): String = {
      def f(v: Double) = s"%.${dec}f".format(v)
      s"""{"metric":"total","value":${totalJson(f)},"unit":"sec","failed":$nFailed,"cold_total":${f(total)},"steady_total":${f(steadyTotal)},"succeeded_total":${f(total)},"queries":${fmt(headline, dec)},"demos":{},"demos_total":${f(0.0)},"sf":"$sfName"}"""
    }
    // fit budget: 2000-char tail − ~81 sbt "[success]" trailer − 7 "[info] "
    // prefix, with a little slack
    val out = Seq(2, 1).map(line).find(_.length <= 1880).getOrElse {
      // last resort: top-40 slowest headline entries + the rest as one
      // "other" bucket
      val top = headline.sortBy(-_._2).take(40)
      // "other" buckets only SUCCESSFUL non-top entries (failed -1s would
      // drive it negative); top-40 keeps its -1 markers visible
      val other = total - top.map(_._2).filter(_ >= 0).sum
      s"""{"metric":"total","value":${totalJson("%.2f".format(_))},"unit":"sec","failed":$nFailed,"cold_total":${"%.2f".format(total)},"steady_total":${"%.2f".format(steadyTotal)},"succeeded_total":${"%.2f".format(total)},"queries":${fmt(top :+ ("other" -> other), 2)},"demos":{},"demos_total":0.00,"sf":"$sfName"}"""
    }
    def full(qs: Seq[(String, Double)]): String =
      qs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val repsJson = allReps
      .map { case (k, ts) => "\"" + k + "\":[" + ts.map("%.2f".format(_)).mkString(",") + "]" }
      .mkString("{", ",", "}")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      s"""{"metric":"total","value":${totalJson(_.toString)},"unit":"sec","failed":$nFailed,"cold_total":$total,"steady_total":$steadyTotal,"succeeded_total":$total,"queries":${full(headline)},"demos":{},"demos_total":0.0,"reps":$repsJson,"sf":"$sfDir"}""" + "\n")
    catch { case _: Throwable => () }
    println(out)
    spark.stop()
  }
}
